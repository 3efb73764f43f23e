package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.{Dedup, IndexStore, Multimodal, Sessionize, Similarity}
import graft.sources.Tables
import QueryDefs._

/** Q19–Q35 (+ Q104 image near-dup) — the large-scale training-data
  * pipeline surface (SURVEY §7.3):
  * deduplication (exact, n-gram Jaccard, MinHash+LSH), text analysis
  * (token counting, quality scoring, language ID, rolling-hash
  * fingerprints), similarity search over embeddings (brute-force cosine
  * and LSH-bucketed ANN), sessionization / gap detection, and the
  * multimodal binary-column plumbing — packing, decode, frame sampling,
  * and perceptual-hash near-dup.
  *
  * Every query here is a thin declarative wrapper over the operators in
  * `graft.operators` / `graft.functions`, with a DuckDB oracle wherever
  * the semantics are ANSI-SQL-expressible. MinHash (xxhash64-based, not
  * SQL-expressible) is oracle-checked against the *exact* n-gram Jaccard
  * SQL (its verified output must equal the exact answer — LSH recall at
  * the chosen banding is ~1-6e-7 at the 0.6 threshold and the testdata
  * is deterministic). Hyperplane-LSH ANN embeds its deterministic plane
  * model as a literal in the oracle SQL and IVF ANN is hash-free, so
  * both ANN queries are graded by restating the FULL algorithm in
  * DuckDB; SimHash pairs (q34) run over the portable md5-derived
  * signature, graded by an equivalent brute-force Hamming restatement
  * (the xxhash64 fast path keeps a brute-force equality ScalaTest).
  *
  * Oracle-portability rules learned the hard way (see QueryDefs):
  * output columns are double/long/string only; integer offsets use `div`
  * (DuckDB `//`), never cast-from-double (truncate vs round); DuckDB
  * SUM/window-SUM over integers yields HUGEINT → always `::BIGINT` on the
  * oracle side; float folds use `list_reduce` to pin left-to-right
  * accumulation order to match Spark's `aggregate`.
  *
  * Accepted residual risk (q26–q28, q33): the graded `round(cos, 6)`
  * column relies on DuckDB's double rounding bit-matching Spark's
  * BigDecimal HALF_UP — a cosine within ~1 ULP of a 5e-7 boundary could
  * round (or ORDER BY tie-break) differently and flip the hash. The
  * testdata is deterministic so this is stable in practice; if one of
  * these queries ever flakes on hash alone, check the boundary before
  * suspecting the algorithm.
  */
object PipelineQueries {

  // ---------------------------------------------------------------- dedup

  /** Q19 — exact dedup on the normalized-content fingerprint: one
    * hash-shuffle on the md5 key, minimum possible movement at 100 TB.
    */
  private def q19(spark: SparkSession, dir: String): DataFrame =
    Dedup.byFingerprint(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("fp")

  private val q19Sql =
    """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
      |       min(doc_id) AS keeper_id, count(*) AS dup_count
      |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin

  /** Q20 — bag-of-words dedup: sorted distinct token set as the key. */
  private def q20(spark: SparkSession, dir: String): DataFrame =
    Dedup.byTokenSet(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("fp")

  private val q20Sql =
    """SELECT array_to_string(list_sort(list_distinct(
      |         list_filter(string_split_regex(lower(text), '\s+'), t -> t != ''))), ' ') AS fp,
      |       min(doc_id) AS keeper_id, count(*) AS dup_count
      |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin

  /** Shared exact 3-gram-Jaccard CTE prelude (shingle sets → inverted
    * index → intersection counts) — composed into the Q21/Q22 pair
    * oracle here and the Q49 cluster oracle (ExtendedQueries).
    */
  private[queries] val ngramPairsCte =
    """sh AS (
      |  SELECT doc_id,
      |         list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
      |           i -> concat_ws(' ', string_split(text, ' ')[i],
      |                string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))) AS s
      |  FROM documents),
      |inv AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
      |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
      |             count(*) AS inter
      |      FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2, 3, 4)""".stripMargin

  /** Shared exact 3-gram-Jaccard oracle for Q21 (exact) and Q22 (MinHash
    * LSH — verified candidates must reproduce the exact answer).
    */
  private val ngramJaccardSql =
    s"""WITH $ngramPairsCte
       |SELECT id_a, id_b, round(inter / (sz_a + sz_b - inter), 6) AS jaccard
       |FROM p WHERE inter / (sz_a + sz_b - inter) >= 0.6
       |ORDER BY id_a, id_b""".stripMargin

  /** Q21 — exact n-gram Jaccard near-dup pairs (inverted-index join). */
  private def q21(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
        n = 3, threshold = 0.6)
      .orderBy("id_a", "id_b")

  /** Q157 — the RARITY-ORDER (df-ascending) prefix filter, q21's
    * template-skew twin (see [[graft.operators.Dedup.ngramJaccardPairs]]
    * `rarityOrder` and BASELINE.md's round-13 skew section: skewed run
    * 6.2 → 2.5 s for identical output). The prefix filter is exact
    * under ANY consistent global order, so this grades against the SAME
    * exact-Jaccard oracle as q21/q22 — equality is the deterministic
    * expected outcome, making the alternate order's exactness an
    * oracle-checked fact rather than a code-reading claim.
    */
  private def q157(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
        n = 3, threshold = 0.6, rarityOrder = true)
      .orderBy("id_a", "id_b")

  /** Q22 — MinHash + banded LSH near-dup pairs, exact-Jaccard verified.
    * Graded against the same exact SQL as Q21: the LSH candidates are
    * re-checked with true Jaccard, so equality with the exact answer is
    * the (deterministic) expected outcome.
    */
  private def q22(spark: SparkSession, dir: String): DataFrame =
    Dedup.minHashPairs(Tables.documents(spark, dir), "doc_id", "text",
        n = 3, threshold = 0.6)
      .orderBy("id_a", "id_b")

  /** q140 containment threshold and candidate df cap. */
  private val ContainT = 0.7
  private val ContainDfCap = 128

  /** Q140 — containment near-dup pairs (Broder 1997's
    * `|A∩B|/min(|A|,|B|)`; see [[Dedup.containmentPairs]]): subset
    * duplication — a doc embedded in a larger one — that q21's
    * symmetric Jaccard misses. Candidates share ≥1 shingle with
    * document frequency ≤ $ContainDfCap (the winnowing df-cap trade,
    * restated verbatim in the oracle); verification is exact on the
    * full shingle sets.
    */
  private def q140(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables.documents(spark, dir), "doc_id", "text",
        n = 3, threshold = ContainT, dfCap = ContainDfCap)
      .orderBy("id_a", "id_b")

  private val q140Sql =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
       |           i -> concat_ws(' ', string_split(text, ' ')[i],
       |                string_split(text, ' ')[i+1], string_split(text, ' ')[i+2]))) AS s
       |  FROM documents),
       |inv AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
       |hotg AS (SELECT g FROM (SELECT g, count(*) AS c FROM inv GROUP BY 1)
       |         WHERE c > $ContainDfCap),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |             a.sz AS sz_a, b.sz AS sz_b,
       |             count(*)::BIGINT AS inter,
       |             count(*) FILTER (WHERE hg.g IS NULL)::BIGINT AS inter_rare
       |      FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
       |           LEFT JOIN hotg hg ON hg.g = a.g
       |      GROUP BY 1, 2, 3, 4)
       |SELECT id_a, id_b,
       |       round(inter::DOUBLE / least(sz_a, sz_b), 6) AS containment
       |FROM p
       |WHERE inter_rare >= 1
       |  AND inter::DOUBLE / least(sz_a, sz_b) >= $ContainT
       |ORDER BY id_a, id_b""".stripMargin

  /** The q34/q35 oracle signature: DuckDB restatement of
    * [[Dedup.simHashPortable]] — per-token hashes from md5 hex digits,
    * ±1 bit sums, sign-packed 60-bit signature.
    */
  private val portableSigSql =
    """list_reduce(
      |    list_transform(range(0, 60), i ->
      |      CASE WHEN list_sum(list_transform(string_split(text, ' '),
      |             tok -> CASE WHEN ((('0x' || substr(md5(tok), 1, 15))::BIGINT >> i) & 1) = 1
      |                         THEN 1 ELSE -1 END)) > 0
      |           THEN (1::BIGINT << i) ELSE 0::BIGINT END),
      |    (a, b) -> a | b)""".stripMargin

  /** Q34 — SimHash near-dup pairs over the portable 60-bit signature
    * (pigeonhole blocks + exact Hamming verify), fully oracle-graded:
    * pigeonhole candidate generation is LOSSLESS for Hamming ≤ blocks−1,
    * so the oracle restates the semantics as a brute-force all-pairs
    * Hamming filter over the same md5-derived signatures — equivalent
    * output by construction, independently computed. The xxhash64-based
    * [[Dedup.simHashPairs]] (one codegen'd hash per token) is the
    * at-scale fast path, exactness-tested against brute force in
    * ScalaTest.
    */
  private def q34(spark: SparkSession, dir: String): DataFrame =
    Dedup.simHashPortablePairs(Tables.documents(spark, dir), "doc_id", "text",
        maxHamming = 3)
      .withColumn("hamming", col("hamming").cast("long"))
      .orderBy("id_a", "id_b")

  private lazy val q34Sql =
    s"""WITH sigs AS (SELECT doc_id, $portableSigSql AS sig FROM documents)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |       bit_count(xor(a.sig, b.sig))::BIGINT AS hamming
       |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3
       |ORDER BY id_a, id_b""".stripMargin

  /** Q35 — portable SimHash signatures, fully oracle-graded: proves the
    * SimHash computation itself bit-for-bit against an independent
    * engine ([[q34]] then grades the pair generation built on it).
    */
  private def q35(spark: SparkSession, dir: String): DataFrame =
    Dedup.simHashPortableSigs(Tables.documents(spark, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("sig"))
      .orderBy("doc_id")

  private lazy val q35Sql =
    s"""SELECT doc_id, $portableSigSql AS sig
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------- text analysis

  /** Q23 — per-document text statistics + heuristic quality score. */
  private def q23(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFns.tokenCount(t).as("n_tokens"),
      TextFns.bpeTokenCount(t).as("n_bpe"),
      TextFns.stopwordCount(t).as("n_stop"),
      TextFns.punctCount(t).as("n_punct"),
      r6(TextFns.qualityScore(t)).as("quality"))
      .orderBy("doc_id")
  }

  /** The q23 quality formula, unrounded — shared by q23 and the q113
    * per-source calibration so the two grade the SAME score.
    */
  private val qualityExprSql =
    """0.4 * least(1.0, len(regexp_extract_all(text, '\S+')) / 100.0)
      |      + 0.4 * least(1.0, (len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|it|for|on)\b'))
      |                          / greatest(len(regexp_extract_all(text, '\S+')), 1)::DOUBLE) * 5.0)
      |      + 0.2 * (1.0 - least(1.0, len(regexp_extract_all(text, '[.,;:!?]')) * 10.0
      |                          / greatest(len(regexp_extract_all(text, '\S+')), 1)::DOUBLE))""".stripMargin

  private val q23Sql =
    s"""SELECT doc_id,
      |  len(regexp_extract_all(text, '\\S+')) AS n_tokens,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe,
      |  len(regexp_extract_all(lower(text), '\\b(the|a|of|and|to|in|is|it|for|on)\\b')) AS n_stop,
      |  len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
      |  round($qualityExprSql, 6) AS quality
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Q109 — glyph-level composition + entropy quality signals: the ASCII
    * class counts and code-point-distribution Shannon entropy (nats) of
    * every document, in one fused scan via the codegen'd
    * [[graft.expressions.CharClassStats]] kernel — the symbol-soup /
    * low-entropy-boilerplate detectors that sit below the token-level
    * quality rules. Entropy folds `p·ln(p)` in ascending code-point
    * order (restated exactly by the oracle's ordered `list_reduce`) and
    * is graded under the bit-stable `q6` quantization.
    */
  private def q109(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.expressions.CharClassStats(col("text")).as("cs"))
      .select(
        col("doc_id"),
        col("cs.n_cp").cast("long").as("n_cp"),
        col("cs.n_alpha").cast("long").as("n_alpha"),
        col("cs.n_upper").cast("long").as("n_upper"),
        col("cs.n_digit").cast("long").as("n_digit"),
        col("cs.n_space").cast("long").as("n_space"),
        q6(col("cs.entropy")).as("entropy"))
      .orderBy("doc_id")

  private val q109Sql =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
      |u AS (SELECT doc_id, ascii(substring(text, i, 1)) AS cp
      |      FROM (SELECT doc_id, text,
      |                   unnest(range(1, length(text) + 1)) AS i FROM d)),
      |cls AS (SELECT doc_id, count(*)::BIGINT AS n_cp,
      |               (count(*) FILTER (WHERE (cp BETWEEN 65 AND 90)
      |                                    OR (cp BETWEEN 97 AND 122)))::BIGINT AS n_alpha,
      |               (count(*) FILTER (WHERE cp BETWEEN 65 AND 90))::BIGINT AS n_upper,
      |               (count(*) FILTER (WHERE cp BETWEEN 48 AND 57))::BIGINT AS n_digit,
      |               (count(*) FILTER (WHERE cp IN (9, 10, 13, 32)))::BIGINT AS n_space
      |        FROM u GROUP BY 1),
      |h AS (SELECT doc_id, cp, count(*) AS k FROM u GROUP BY 1, 2),
      |e AS (SELECT h.doc_id,
      |             0.0 - list_reduce(
      |               list((k::DOUBLE / n_cp) * ln(k::DOUBLE / n_cp) ORDER BY cp),
      |               (a, b) -> a + b) AS ent
      |      FROM h JOIN cls USING (doc_id) GROUP BY h.doc_id, cls.n_cp)
      |SELECT d.doc_id,
      |       coalesce(cls.n_cp, 0)::BIGINT AS n_cp,
      |       coalesce(cls.n_alpha, 0)::BIGINT AS n_alpha,
      |       coalesce(cls.n_upper, 0)::BIGINT AS n_upper,
      |       coalesce(cls.n_digit, 0)::BIGINT AS n_digit,
      |       coalesce(cls.n_space, 0)::BIGINT AS n_space,
      |       floor(coalesce(e.ent, 0.0) * 1000000.0 + 0.5) / 1000000.0 AS entropy
      |FROM d LEFT JOIN cls USING (doc_id) LEFT JOIN e ON e.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Q24 — language-ID confusion matrix: labeled lang × predicted lang. */
  private def q24(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"), TextFns.langId(col("text")).as("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")

  private val q24Sql =
    """WITH c AS (
      |  SELECT lang,
      |    len(regexp_extract_all(lower(text), '\b(the|a|of|and|is|to)\b')) AS en,
      |    len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|ein)\b')) AS de,
      |    len(regexp_extract_all(lower(text), '\b(el|los|las|de|y|es)\b')) AS es,
      |    len(regexp_extract_all(lower(text), '\b(le|les|et|est|un|une)\b')) AS fr,
      |    len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS han
      |  FROM documents),
      |p AS (SELECT lang,
      |        CASE WHEN han > 0 THEN 'zh'
      |             WHEN en >= de AND en >= es AND en >= fr THEN 'en'
      |             WHEN de >= es AND de >= fr THEN 'de'
      |             WHEN es >= fr THEN 'es'
      |             ELSE 'fr' END AS pred_lang
      |      FROM c)
      |SELECT lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Q25 — polynomial rolling-hash document fingerprint:
    * `h = (h*31 + code) mod 1e9+7` via the native codegen'd
    * [[graft.expressions.RollingHash]] byte-loop kernel (one narrow
    * pass, no shuffle, no regex). The declarative HOF formula it
    * replaced ran interpreted per character — ~5M lambda evaluations at
    * sf0.1 — and stays as the property-tested formula of record.
    */
  private def q25(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      graft.expressions.RollingHash(col("text")).as("fp_hash"))
      .orderBy("doc_id")

  private val q25Sql =
    """SELECT doc_id,
      |  list_reduce(list_prepend(7::BIGINT,
      |    list_transform(regexp_extract_all(text, '.'), c -> ascii(c)::BIGINT)),
      |    (a, c) -> (a * 31 + c) % 1000000007) AS fp_hash
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ similarity search

  /** Query row for the ANN queries: the vec_id=0 embedding. */
  private def queryVec(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") === 0)

  /** Q26 — brute-force cosine top-k (the ANN correctness baseline). */
  private def q26(spark: SparkSession, dir: String): DataFrame =
    Similarity.topK(Tables.embeddings(spark, dir), "vec_id", "embedding",
      queryVec(spark, dir), k = 20)

  private val q26Sql =
    """WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |s AS (SELECT vec_id,
      |        list_reduce(list_transform(list_zip(e, qe),
      |            p -> struct_extract(p, 1) * struct_extract(p, 2)), (a, b) -> a + b)
      |        / (sqrt(list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b))
      |         * sqrt(list_reduce(list_transform(qe, x -> x * x), (a, b) -> a + b))) AS cs
      |      FROM e, q)
      |SELECT vec_id, round(cs, 6) AS cos_sim FROM s
      |ORDER BY cos_sim DESC, vec_id LIMIT 20""".stripMargin

  /** Q27 — all embedding pairs with cosine ≥ 0.4 (bounded-corpus exact). */
  private def q27(spark: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(Tables.embeddings(spark, dir), "vec_id", "embedding",
        threshold = 0.4)
      .orderBy("id_a", "id_b")

  private val q27Sql =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      |n AS (SELECT vec_id, e,
      |        sqrt(list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b)) AS nm
      |      FROM e),
      |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |        list_reduce(list_transform(list_zip(a.e, b.e),
      |            s -> struct_extract(s, 1) * struct_extract(s, 2)), (x, y) -> x + y)
      |        / (a.nm * b.nm) AS cs
      |      FROM n a JOIN n b ON a.vec_id < b.vec_id)
      |SELECT id_a, id_b, round(cs, 6) AS cos_sim FROM p WHERE cs >= 0.4
      |ORDER BY id_a, id_b""".stripMargin

  /** The q26/q27 oracle cosine: exact float→double widening, strict
    * left-to-right double folds (`list_reduce`) — bit-identical to
    * [[graft.functions.VectorFns.cosine]].
    *
    * Accepted portability risk (q26/q27/q28/q33 alike): the graded
    * column and ORDER BY tie-break go through `round(cs, 6)` on both
    * engines; the folds are bit-identical, but `sqrt`-rounding means a
    * value within ~1 ULP of a 5e-7 rounding boundary could in principle
    * round differently in DuckDB and flip a hash or row order. Green
    * since round 4; if one of these four ever flakes with matching rows
    * and a one-value hash diff, suspect this boundary before the
    * operators.
    */
  private[queries] def cosSql(a: String, b: String): String =
    s"""list_reduce(list_transform(list_zip($a, $b),
       |      p -> struct_extract(p,1) * struct_extract(p,2)), (x,y) -> x + y)
       |  / (sqrt(list_reduce(list_transform($a, x -> x*x), (x,y) -> x + y))
       |   * sqrt(list_reduce(list_transform($b, x -> x*x), (x,y) -> x + y)))""".stripMargin

  /** Q28 — LSH-bucketed ANN top-k (the 100 TB scale path). Fully
    * oracle-graded: the hyperplane model is deterministic and inlined as
    * a literal in the Spark plan, so the oracle embeds the SAME model
    * (the 128×64 `pmod(xxhash64, 1001)` integers, generated driver-side)
    * and mirrors the whole algorithm — signatures, 16×8 banding, bucket
    * join, exact re-rank, top-k. This grades the LSH semantics exactly
    * rather than hoping recall against brute force is 100% (it is not on
    * this noise corpus: the true top-20 sit at cos ≈ 0.3, far below the
    * near-duplicate regime the banding targets).
    */
  private def q28(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(Tables.embeddings(spark, dir), "vec_id", "embedding",
      queryVec(spark, dir), k = 20)

  /** Shared q28/q37 oracle prelude: the embedded plane-model literal,
    * per-vector signatures, and the banded buckets — the full LSH model
    * restated in SQL.
    */
  /** The signature/banding CTEs over an ALREADY-DEFINED `e(vec_id, e)`
    * CTE — shared by [[lshBandsSql]] (embeddings table, graded 16×8
    * banding) and the hash-embedded documents variant (q154,
    * TrainPrepQueries — 10×12 banding, the measured wide-band knob for
    * correlated vectors). `rows` need not divide 128: trailing bits
    * beyond `bands·rows` are unused, mirroring `lshNearDupPairs`.
    */
  private[queries] def lshSigSql(rows: Int = Similarity.planeInts.length
        / Similarity.Bands,
      bands: Int = Similarity.Bands): String = {
    val planeLit = Similarity.planeInts
      .map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    s"""pm AS (SELECT $planeLit AS m),
       |sig AS (SELECT vec_id, list_transform(m, p ->
       |          CASE WHEN list_reduce(list_transform(list_zip(e, p),
       |              s -> struct_extract(s,1) * (struct_extract(s,2)/1000.0 - 0.5)),
       |              (a,b) -> a + b) > 0 THEN 1 ELSE 0 END) AS sg
       |        FROM e, pm),
       |bands AS (SELECT vec_id, unnest(list_transform(range(0,$bands),
       |           b -> b::VARCHAR || '_' || array_to_string(sg[b*$rows+1 : b*$rows+$rows], '_'))) AS band
       |          FROM sig)""".stripMargin
  }

  private[queries] lazy val lshBandsSql: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |${lshSigSql()}""".stripMargin

  private lazy val q28Sql: String =
    s"""WITH $lshBandsSql,
       |qbands AS (SELECT band FROM bands WHERE vec_id = 0),
       |cand AS (SELECT DISTINCT b.vec_id FROM bands b JOIN qbands qb USING (band)),
       |q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
       |s AS (SELECT c.vec_id, ${cosSql("e.e", "qe")} AS cs
       |      FROM cand c JOIN e ON e.vec_id = c.vec_id, q)
       |SELECT vec_id, round(cs, 6) AS cos_sim FROM s
       |ORDER BY cos_sim DESC, vec_id LIMIT 20""".stripMargin

  /** Anchor-set bound for the q110 contrastive mining pass. */
  private val ContrastiveAnchors = 64

  /** Q110 — contrastive (positive, hard-negative) mining over the
    * embedding corpus for a broadcast anchor batch: per anchor, the
    * best same-label and best other-label cosine neighbors plus the
    * margin between them (see [[Similarity.contrastivePairs]]) —
    * triplet-loss data prep, graded value-for-value.
    */
  private def q110(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.contrastivePairs(emb, "vec_id", "embedding", "label",
        emb.filter(col("vec_id") < ContrastiveAnchors))
      .orderBy("anchor_id")
  }

  private lazy val q110Sql =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS e
       |           FROM embeddings),
       |a AS (SELECT vec_id AS anchor_id, label AS a_label, e AS ae
       |      FROM e WHERE vec_id < $ContrastiveAnchors),
       |s AS (SELECT a.anchor_id, e.vec_id, (e.label = a.a_label) AS same,
       |             round(${cosSql("e.e", "ae")}, 6) AS cos_sim
       |      FROM e JOIN a ON e.vec_id != a.anchor_id),
       |r AS (SELECT anchor_id, vec_id, same, cos_sim,
       |             row_number() OVER (PARTITION BY anchor_id, same
       |                                ORDER BY cos_sim DESC, vec_id) AS rk
       |      FROM s),
       |p AS (SELECT anchor_id,
       |             max(vec_id) FILTER (WHERE same) AS pos_id,
       |             max(cos_sim) FILTER (WHERE same) AS pos_sim,
       |             max(vec_id) FILTER (WHERE NOT same) AS neg_id,
       |             max(cos_sim) FILTER (WHERE NOT same) AS neg_sim
       |      FROM r WHERE rk = 1 GROUP BY anchor_id)
       |SELECT anchor_id, pos_id, pos_sim, neg_id, neg_sim,
       |       floor((pos_sim - neg_sim) * 1000000.0 + 0.5) / 1000000.0
       |         AS margin
       |FROM p ORDER BY anchor_id""".stripMargin

  /** q112 k-NN labeling parameters: query-sample bound and vote size. */
  private val KnnQueries = 64
  private val KnnK = 10

  /** Q112 — k-NN weak labeling + label audit over the embedding corpus:
    * a query batch predicted by the majority label of its $KnnK nearest
    * neighbors (self excluded), with vote confidence and the
    * agrees-with-stored-label flag (see [[Similarity.knnPredict]]) —
    * graded row-for-row including the deterministic vote tiebreak.
    */
  private def q112(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.knnPredict(emb, "vec_id", "embedding", "label",
        emb.filter(col("vec_id") < KnnQueries), k = KnnK)
      .orderBy("query_id")
  }

  private lazy val q112Sql =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS e
       |           FROM embeddings),
       |q AS (SELECT vec_id AS query_id, label AS true_label, e AS qe
       |      FROM e WHERE vec_id < $KnnQueries),
       |s AS (SELECT q.query_id, q.true_label::BIGINT AS true_label,
       |             e.label::BIGINT AS pred_label, e.vec_id,
       |             round(${cosSql("e.e", "qe")}, 6) AS cos_sim
       |      FROM e JOIN q ON e.vec_id != q.query_id),
       |nn AS (SELECT * FROM (
       |         SELECT *, row_number() OVER (PARTITION BY query_id
       |                   ORDER BY cos_sim DESC, vec_id) AS rk
       |         FROM s) WHERE rk <= $KnnK),
       |v AS (SELECT query_id, true_label, pred_label,
       |             count(*)::BIGINT AS votes
       |      FROM nn GROUP BY 1, 2, 3),
       |p AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |              ORDER BY votes DESC, pred_label) AS vr
       |      FROM v)
       |SELECT query_id, true_label, pred_label, votes,
       |       votes::DOUBLE / $KnnK AS conf,
       |       (pred_label = true_label) AS correct
       |FROM p WHERE vr = 1 ORDER BY query_id""".stripMargin

  /** Q113 — per-source quality calibration: raw quality scores are not
    * comparable across sources (each source has its own length/style
    * distribution), so selection thresholds must be set on the
    * WITHIN-SOURCE percentile, not the raw score — the classic
    * train-data-mixing fix. Emits the q23 quality score, its percent
    * rank within the document's source (ties broken by doc_id — fully
    * deterministic, and exact: `(rank−1)/(n−1)` is integer arithmetic
    * in double), and the decile bucket a budgeted selector would key
    * on. One window over one source-keyed exchange.
    */
  private def q113(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality"), col("doc_id"))
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        r6(TextFns.qualityScore(col("text"))).as("quality"))
      .withColumn("cal", percent_rank().over(w))
      .withColumn("decile",
        least(floor(col("cal") * lit(10)), lit(9)).cast("long"))
      .orderBy("doc_id")
  }

  private lazy val q113Sql =
    s"""WITH d AS (SELECT doc_id, source,
       |                  round($qualityExprSql, 6) AS quality
       |           FROM documents WHERE text IS NOT NULL),
       |c AS (SELECT doc_id, source, quality,
       |             percent_rank() OVER (PARTITION BY source
       |                                  ORDER BY quality, doc_id) AS cal
       |      FROM d)
       |SELECT doc_id, source, quality, cal,
       |       least(floor(cal * 10), 9)::BIGINT AS decile
       |FROM c ORDER BY doc_id""".stripMargin

  /** q114 pruning parameters: coarse-partition width (the q50/q99
    * lowest-id seeding convention) and the kept fraction per cell.
    */
  private val ProtoCells = 8
  private val ProtoKeepFrac = 0.7

  /** Q114 — prototypicality-based data pruning (Sorscher et al. 2022):
    * cosine to the k-means cell centroid as the self-supervised
    * difficulty metric, keeping the $ProtoKeepFrac LEAST prototypical
    * rows of each cell — the abundant-data-regime policy the paper shows
    * beating random pruning (see [[Similarity.prototypicality]]). Cell
    * assignment is q99's in-row argmax over the inlined seed model; the
    * only exchange is the per-cell ranking window's.
    */
  private def q114(spark: SparkSession, dir: String): DataFrame =
    Similarity.prototypicality(Tables.embeddings(spark, dir), "vec_id",
        "embedding", keepFrac = ProtoKeepFrac, nCells = ProtoCells)
      .orderBy("vec_id")

  private val q114Sql =
    s"""WITH ed AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |c AS (SELECT vec_id AS cent, e AS ce FROM ed
       |      ORDER BY vec_id LIMIT $ProtoCells),
       |aff AS (SELECT ed.vec_id, c.cent,
       |          ${cosSql("ed.e", "c.ce")} AS cs
       |        FROM ed, c),
       |cell AS (SELECT vec_id, cent AS cell, round(cs, 6) AS cent_sim FROM (
       |           SELECT vec_id, cent, cs,
       |                  row_number() OVER (PARTITION BY vec_id
       |                                     ORDER BY (0.0 - cs), cent) AS rn
       |           FROM aff) WHERE rn = 1),
       |r AS (SELECT vec_id, cell, cent_sim,
       |             percent_rank() OVER (PARTITION BY cell
       |                                  ORDER BY cent_sim, vec_id)
       |               AS proto_rank
       |      FROM cell)
       |SELECT vec_id, cell, cent_sim, proto_rank,
       |       (CASE WHEN proto_rank < $ProtoKeepFrac THEN 1 ELSE 0
       |        END)::BIGINT AS keep
       |FROM r ORDER BY vec_id""".stripMargin

  /** q115/q116 winnowing parameters: gram width k, window width w
    * (detection floor = shared runs of w + k − 1 = 6 tokens), the
    * boilerplate document-frequency cap, and the minimum shared
    * fingerprints for a reported pair.
    */
  private val WinnowK = 3
  private val WinnowW = 4
  private val WinnowDfCap = 20
  private val WinnowMinShared = 2

  /** Q115 — winnowing fingerprints (Schleimer et al. 2003, the MOSS
    * scheme): rightmost-min of every $WinnowW-wide window over the
    * word-$WinnowK-gram portable-hash sequence — the position-aware,
    * guarantee-bearing complement of MinHash (any shared
    * ${WinnowW + WinnowK - 1}-token run MUST share a fingerprint). See
    * [[graft.expressions.WinnowFingerprints]]; the oracle restates
    * hash + window selection from the same md5-60 contract.
    */
  private def q115(spark: SparkSession, dir: String): DataFrame =
    Dedup.winnowFingerprints(Tables.documents(spark, dir), "doc_id", "text",
        k = WinnowK, w = WinnowW)
      .orderBy("doc_id", "pos")

  /** The q115 selection chain (tokens → grams → portable hashes →
    * rightmost-min window selection), shared with q116's oracle.
    */
  private val winnowSelSql =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |      FROM documents WHERE text IS NOT NULL),
       |g0 AS (SELECT doc_id, toks,
       |         unnest(range(1, greatest(len(toks) - ${WinnowK - 2}, 1)))
       |           AS i
       |       FROM t),
       |g AS MATERIALIZED (SELECT doc_id, i - 1 AS pos,
       |         ('0x' || substr(md5(concat_ws(' ',
       |            toks[i], toks[i+1], toks[i+2])), 1, 15))::BIGINT AS h
       |       FROM g0),
       |n AS (SELECT doc_id, count(*) AS np FROM g GROUP BY 1),
       |w0 AS (SELECT doc_id,
       |         unnest(range(greatest(np - ${WinnowW - 1}, 1))) AS s
       |       FROM n),
       |cand AS (SELECT w0.doc_id, w0.s, g.pos, g.h
       |         FROM w0 JOIN g ON g.doc_id = w0.doc_id
       |                       AND g.pos BETWEEN w0.s
       |                                     AND w0.s + ${WinnowW - 1}),
       |sel AS MATERIALIZED (SELECT doc_id, pos, h FROM (
       |         SELECT doc_id, s, pos, h,
       |                row_number() OVER (PARTITION BY doc_id, s
       |                                   ORDER BY h, pos DESC) AS rn
       |         FROM cand) WHERE rn = 1)""".stripMargin

  private val q115Sql =
    s"""WITH $winnowSelSql
       |SELECT DISTINCT doc_id, pos, h AS fp_hash
       |FROM sel ORDER BY doc_id, pos""".stripMargin

  /** Q116 — winnowing overlap report (MOSS's pairing step): document
    * pairs sharing ≥ $WinnowMinShared selected fingerprints after
    * dropping fingerprints in > $WinnowDfCap docs (the boilerplate noise
    * rule — which also bounds every pairing bucket's fanout), scored by
    * the Jaccard of the fingerprint sets.
    */
  private def q116(spark: SparkSession, dir: String): DataFrame =
    Dedup.winnowOverlap(Tables.documents(spark, dir), "doc_id", "text",
        k = WinnowK, w = WinnowW, dfCap = WinnowDfCap,
        minShared = WinnowMinShared)
      .orderBy("id_a", "id_b")

  private val q116Sql =
    s"""WITH $winnowSelSql,
       |f AS MATERIALIZED (SELECT DISTINCT doc_id, h FROM sel),
       |d AS (SELECT h FROM f GROUP BY h
       |      HAVING count(*) <= $WinnowDfCap),
       |kf AS MATERIALIZED (SELECT f.doc_id, f.h FROM f JOIN d USING (h)),
       |c AS MATERIALIZED (SELECT doc_id, count(*) AS n_fp
       |                   FROM kf GROUP BY 1),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |             count(*)::BIGINT AS n_shared
       |      FROM kf a JOIN kf b ON a.h = b.h AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared)
       |SELECT id_a, id_b, n_shared,
       |       round(n_shared::DOUBLE
       |             / (ca.n_fp + cb.n_fp - n_shared), 6) AS jaccard
       |FROM p JOIN c ca ON ca.doc_id = p.id_a
       |       JOIN c cb ON cb.doc_id = p.id_b
       |ORDER BY id_a, id_b""".stripMargin

  /** Q117 — Stupid Backoff bigram LM scoring (Brants et al. 2007):
    * every document scored against the English-subset bigram model —
    * `c(prev cur)/c(prev)` on model hits, `0.4·(c(cur)+1)/(N+V)` on
    * backoff (see [[Curation.stupidBackoff]]). The in-domain/
    * out-of-domain split shows up as the backoff fraction; the mean log
    * score is the CCNet-style selection signal. Model count tables join
    * (never broadcast — web-scale at 100 TB); the per-doc fold is
    * position-pinned on both engines.
    */
  private def q117(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.operators.Curation.stupidBackoff(
        docs.filter(col("text").isNotNull), "doc_id", "text",
        docs.filter(col("lang") === "en" && col("text").isNotNull), "text")
      .orderBy("doc_id")
  }

  private val q117Sql =
    """WITH m AS (SELECT string_split(text, ' ') AS toks
      |           FROM documents WHERE lang = 'en' AND text IS NOT NULL),
      |mu AS MATERIALIZED (SELECT w, count(*)::BIGINT AS c1
      |      FROM (SELECT unnest(toks) AS w FROM m) GROUP BY 1),
      |mb AS MATERIALIZED (SELECT bg, count(*)::BIGINT AS c2
      |      FROM (SELECT concat_ws(' ', toks[i], toks[i+1]) AS bg
      |            FROM (SELECT toks,
      |                    unnest(range(1, greatest(len(toks), 1))) AS i
      |                  FROM m)) GROUP BY 1),
      |nv AS (SELECT sum(c1)::DOUBLE AS nm, count(*)::DOUBLE AS vm FROM mu),
      |d AS (SELECT doc_id, string_split(text, ' ') AS toks
      |      FROM documents WHERE text IS NOT NULL),
      |p0 AS (SELECT doc_id, toks,
      |         unnest(range(1, greatest(len(toks), 1))) AS i
      |       FROM d),
      |p AS MATERIALIZED (SELECT doc_id, i - 1 AS pos, toks[i] AS prev,
      |         toks[i+1] AS cur,
      |         concat_ws(' ', toks[i], toks[i+1]) AS bg
      |       FROM p0),
      |s AS (SELECT p.doc_id, p.pos,
      |        CASE WHEN mb.c2 IS NOT NULL
      |             THEN ln(mb.c2 / up.c1::DOUBLE)
      |             ELSE ln(0.4 * (coalesce(uc.c1, 0) + 1)
      |                     / (nv.nm + nv.vm)) END AS ls,
      |        (mb.c2 IS NULL) AS backoff
      |      FROM p LEFT JOIN mb USING (bg)
      |             LEFT JOIN mu up ON up.w = p.prev
      |             LEFT JOIN mu uc ON uc.w = p.cur, nv)
      |SELECT doc_id, count(*)::BIGINT AS n_scored,
      |       (count(*) FILTER (WHERE backoff))::BIGINT AS n_backoff,
      |       round(list_reduce(list(ls ORDER BY pos), (x, y) -> x + y)
      |             / count(*), 6) AS sb_logscore
      |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Q119 — source-pair Jensen–Shannon divergence matrix: the
    * "which sources are statistically redundant" mixture-design
    * diagnostic (see [[graft.operators.Curation.sourceDivergence]]).
    * Per-term contributions are integer-quantized then summed, so the
    * float aggregate is exact and partition-order-free on both engines
    * — no ordered fold anywhere.
    */
  private def q119(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.sourceDivergence(
        Tables.documents(spark, dir), "source", "text")
      .orderBy("src_a", "src_b")

  private val q119Sql =
    """WITH tk AS (SELECT source AS src,
      |              unnest(string_split(text, ' ')) AS term
      |            FROM documents WHERE text IS NOT NULL),
      |ct AS MATERIALIZED (SELECT src, term, count(*)::BIGINT AS c
      |                    FROM tk GROUP BY 1, 2),
      |tot AS MATERIALIZED (SELECT src, sum(c)::BIGINT AS n
      |                     FROM ct GROUP BY 1),
      |pr AS MATERIALIZED (SELECT ct.src, ct.term, ct.c / tot.n AS p
      |                    FROM ct JOIN tot USING (src)),
      |sh AS (SELECT a.src AS src_a, b.src AS src_b,
      |         count(*)::BIGINT AS n_shared,
      |         sum(floor((0.5 * a.p * ln(2.0 * a.p / (a.p + b.p))
      |                    + 0.5 * b.p * ln(2.0 * b.p / (a.p + b.p)))
      |                   * 1e12 + 0.5)::BIGINT)::BIGINT AS sj,
      |         sum(floor(a.p * 1e12 + 0.5)::BIGINT)::BIGINT AS sp,
      |         sum(floor(b.p * 1e12 + 0.5)::BIGINT)::BIGINT AS sq
      |       FROM pr a JOIN pr b ON a.term = b.term AND a.src < b.src
      |       GROUP BY 1, 2),
      |pairs AS (SELECT a.src AS src_a, b.src AS src_b
      |          FROM tot a JOIN tot b ON a.src < b.src)
      |SELECT p.src_a, p.src_b,
      |       coalesce(sh.n_shared, 0)::BIGINT AS n_shared,
      |       round(coalesce(sh.sj, 0) / 1e12
      |             + 0.5 * ln(2.0) * (1.0 - coalesce(sh.sp, 0) / 1e12)
      |             + 0.5 * ln(2.0) * (1.0 - coalesce(sh.sq, 0) / 1e12), 6)
      |         AS jsd
      |FROM pairs p LEFT JOIN sh USING (src_a, src_b)
      |ORDER BY src_a, src_b""".stripMargin

  /** q120 pooling width: consecutive-id chunks per pooled document. */
  private val PoolChunk = 10

  /** Q120 — chunk→document embedding pooling: mean-pool each
    * $PoolChunk-chunk group and L2-normalize (see
    * [[Similarity.meanPool]]). The driver compare can't sort ARRAY
    * columns, so the unit vector is exploded to scalars for grading —
    * the q50 centroid convention.
    */
  private def q120(spark: SparkSession, dir: String): DataFrame =
    Similarity.meanPool(
        Tables.embeddings(spark, dir)
          .select(expr(s"vec_id div $PoolChunk").as("grp"),
            col("vec_id"), col("embedding")),
        "grp", "embedding", "vec_id")
      .select(col("grp"), col("n_chunks"),
        posexplode(col("emb_unit")).as(Seq("pos", "u")))
      .select(col("grp"), col("n_chunks"), col("pos").cast("long").as("pos"),
        col("u"))
      .orderBy("grp", "pos")

  private val q120Sql =
    s"""WITH e AS (SELECT vec_id // $PoolChunk AS grp, vec_id AS ord,
       |             unnest(embedding::DOUBLE[]) AS v,
       |             unnest(range(len(embedding))) AS pos
       |           FROM embeddings),
       |d AS (SELECT grp, pos, count(*)::BIGINT AS nc,
       |        list_reduce(list(v ORDER BY ord), (x, y) -> x + y)
       |          / count(*) AS m
       |      FROM e GROUP BY grp, pos),
       |g AS (SELECT grp, max(nc)::BIGINT AS n_chunks,
       |        list(m ORDER BY pos) AS em
       |      FROM d GROUP BY grp),
       |n AS (SELECT grp, n_chunks, em,
       |        sqrt(list_reduce(list_transform(em, x -> x * x),
       |                         (x, y) -> x + y)) AS nr
       |      FROM g)
       |SELECT grp, n_chunks, unnest(range(len(em))) AS pos,
       |       unnest(list_transform(em, x ->
       |         CASE WHEN nr = 0 THEN 0.0 ELSE round(x / nr, 6) END)) AS u
       |FROM n ORDER BY grp, pos""".stripMargin

  /** q127 projection dims: 64-d corpus embeddings → 16-d sketches. */
  private[queries] val RpInDim = 64
  private[queries] val RpOutDim = 16

  /** Q127 — Johnson–Lindenstrauss ±1 random projection (Achlioptas
    * 2003): 64-d embeddings to 16-d through the hash-derived sign
    * matrix (see [[Similarity.randomProject]] — the matrix is a pure
    * function of the salt, so the oracle regenerates it from the same
    * md5-60 parity). Graded exploded-to-scalars like q50/q120.
    */
  private def q127(spark: SparkSession, dir: String): DataFrame =
    Similarity.randomProject(Tables.embeddings(spark, dir), "vec_id",
        "embedding", inDim = RpInDim, outDim = RpOutDim)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("pos", "y")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"), col("y"))
      .orderBy("vec_id", "pos")

  /** The q127 projection restated in SQL — `rpp(vec_id, j, y)` per
    * output dimension — shared with q128's recall oracle.
    *
    * The round-8 q127/q128 failure was NOT a DuckDB version gap: this
    * fragment is `.stripMargin`ed here and interpolated into q127Sql /
    * q128Sql which stripMargin AGAIN, and the second strip eats the
    * first pipe of any continuation line that starts with `||` —
    * emitting `VARCHAR | STRING_LITERAL` (the exact binder error) on
    * EVERY DuckDB version. Shared CTE fragments must therefore never
    * begin a line with `||` (concat operators go at line END —
    * tools/oracle_lint.py E4 guards the emitted SQL). The sign matrix
    * also moved out of the per-row lambda into a plain CTE so the
    * per-row work is an indexed fold; the `list_reduce` keeps the
    * i=0..N-1 summation order of the Spark-side
    * [[graft.expressions.VecDot]] kernel, so the 1e-6 quantization
    * stays bit-stable.
    */
  private[queries] lazy val rpProjCte =
    s"""rps AS MATERIALIZED (
       |  SELECT j, list(s ORDER BY i) AS sgn
       |  FROM (SELECT t.j, u.i,
       |          CASE WHEN ('0x' || substr(md5('rp:' || t.j::VARCHAR ||
       |                  ':' || u.i::VARCHAR), 1, 15))::BIGINT % 2 = 0
       |               THEN 1.0 ELSE -1.0 END AS s
       |        FROM range($RpOutDim) t(j)
       |        CROSS JOIN range($RpInDim) u(i))
       |  GROUP BY j),
       |rpe AS (SELECT vec_id, embedding::DOUBLE[] AS x
       |        FROM embeddings),
       |rpp AS MATERIALIZED (SELECT vec_id, j,
       |        floor(list_reduce(list_transform(range($RpInDim), i ->
       |                sgn[i + 1] * x[i + 1]),
       |              (a, b) -> a + b) / ${math.sqrt(RpOutDim.toDouble)}
       |              * 1000000.0 + 0.5) / 1000000.0 AS y
       |      FROM rpe CROSS JOIN rps)""".stripMargin

  private lazy val q127Sql =
    s"""WITH $rpProjCte
       |SELECT vec_id, j::BIGINT AS pos, y
       |FROM rpp ORDER BY vec_id, pos""".stripMargin

  /** q111 MMR parameters: anchor queries, candidate pool, selection
    * size, relevance-vs-diversity tradeoff.
    */
  private val MmrQueries = 8
  private val MmrCands = 20
  private val MmrK = 5
  private val MmrLambda = 0.7

  /** Q111 — MMR diversity re-rank: each query's top-$MmrCands brute
    * candidates greedily reduced to $MmrK "most relevant, least
    * redundant" picks (see [[Similarity.mmrRerank]]). The oracle
    * restates the greedy recurrence as an unrolled $MmrK-step
    * MATERIALIZED CTE chain — selection AND scores are graded exactly
    * (raw-mmr argmax, id tiebreak, bit-stable final quantization).
    */
  private def q111(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.mmrRerank(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < MmrQueries), "vec_id",
        nCandidates = MmrCands, k = MmrK, lambda = MmrLambda)
      .orderBy("query_id", "rank")
  }

  private lazy val q111Sql = {
    val lam = s"(${MmrLambda})::DOUBLE"
    val om = s"(${1.0 - MmrLambda})::DOUBLE"
    val steps = (2 to MmrK).map { i =>
      s"""s$i AS MATERIALIZED (SELECT query_id, vec_id, $i::BIGINT AS rank, mmr
         |  FROM (SELECT c.query_id, c.vec_id,
         |               $lam * c.rel - $om * max(x.sim) AS mmr,
         |               row_number() OVER (PARTITION BY c.query_id
         |                 ORDER BY $lam * c.rel - $om * max(x.sim) DESC,
         |                          c.vec_id) AS rk
         |        FROM cand c
         |        JOIN cc x ON x.query_id = c.query_id AND x.va = c.vec_id
         |        JOIN sel${i - 1} t ON t.query_id = x.query_id
         |                          AND t.vec_id = x.vb
         |        LEFT JOIN sel${i - 1} d ON d.query_id = c.query_id
         |                               AND d.vec_id = c.vec_id
         |        WHERE d.vec_id IS NULL
         |        GROUP BY c.query_id, c.vec_id, c.rel) WHERE rk = 1),
         |sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1}
         |                       UNION ALL SELECT * FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |q AS (SELECT vec_id AS query_id, e AS qe FROM e
       |      WHERE vec_id < $MmrQueries),
       |s AS (SELECT q.query_id, e.vec_id,
       |             round(${cosSql("e.e", "qe")}, 6) AS rel
       |      FROM e, q),
       |cand AS MATERIALIZED (SELECT query_id, vec_id, rel FROM (
       |        SELECT *, row_number() OVER (PARTITION BY query_id
       |                  ORDER BY rel DESC, vec_id) AS rk FROM s)
       |      WHERE rk <= $MmrCands),
       |cc AS MATERIALIZED (SELECT a.query_id, a.vec_id AS va,
       |             b.vec_id AS vb,
       |             floor(${cosSql("ea.e", "eb.e")}
       |                   * 1000000.0 + 0.5) / 1000000.0 AS sim
       |      FROM cand a
       |      JOIN cand b ON a.query_id = b.query_id
       |                 AND a.vec_id != b.vec_id
       |      JOIN e ea ON ea.vec_id = a.vec_id
       |      JOIN e eb ON eb.vec_id = b.vec_id),
       |sel1 AS MATERIALIZED (SELECT query_id, vec_id, 1::BIGINT AS rank,
       |             $lam * rel AS mmr
       |      FROM (SELECT query_id, vec_id, rel, row_number() OVER (
       |              PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rk
       |            FROM cand) WHERE rk = 1),
       |$steps
       |SELECT query_id, vec_id, rank,
       |       floor(mmr * 1000000.0 + 0.5) / 1000000.0 AS mmr
       |FROM sel$MmrK ORDER BY query_id, rank""".stripMargin
  }

  private[queries] val LshPairThreshold = 0.4

  /** Q37 — LSH-banded embedding near-dup pairs: the 100 TB replacement
    * for q27's quadratic all-pairs. Fully oracle-graded the q28 way: the
    * deterministic plane model is embedded as a literal and the WHOLE
    * algorithm — signatures, 16×8 banding, same-bucket candidate pairs,
    * exact cosine verify — is restated in SQL, so the LSH semantics
    * (including sub-unit recall at this far-below-near-dup threshold)
    * are graded exactly rather than hoped to match brute force.
    */
  private def q37(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.lshPairs(spark, dir)
      .orderBy("id_a", "id_b")

  private lazy val q37Sql: String =
    s"""WITH $lshBandsSql,
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |         FROM bands a JOIN bands b ON a.band = b.band AND a.vec_id < b.vec_id),
       |n AS (SELECT vec_id, e,
       |        sqrt(list_reduce(list_transform(e, x -> x*x), (x,y) -> x + y)) AS nm
       |      FROM e),
       |p AS (SELECT id_a, id_b,
       |        list_reduce(list_transform(list_zip(a.e, b.e),
       |            s -> struct_extract(s,1) * struct_extract(s,2)), (x,y) -> x + y)
       |          / (a.nm * b.nm) AS cs
       |      FROM cand JOIN n a ON a.vec_id = cand.id_a
       |                JOIN n b ON b.vec_id = cand.id_b)
       |SELECT id_a, id_b, round(cs, 6) AS cos_sim FROM p
       |WHERE cs >= $LshPairThreshold
       |ORDER BY id_a, id_b""".stripMargin

  /** Q173 — INCREMENTAL semantic near-dup (see
    * [[graft.operators.Similarity.deltaSemNearDup]]): q167's
    * continuous-ingest contract carried to the embedding regime. The
    * standing corpus (vec_id % 5 ≠ 4) is represented by its persisted
    * plane-signature frame; the incoming batch (vec_id % 5 = 4) bands
    * with the same data-independent hyperplane model and probes the
    * index's banded keys — q37's exact 16×8 banding, restated in SQL
    * over the split, so sub-unit banding recall is graded exactly, not
    * hoped to match brute force. Statuses are the q74 contract with
    * exact-cosine verification and min-id keepers.
    */
  private def q173(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val index = Similarity.signatureFrame(
        emb.filter(col("vec_id") % 5 =!= 4), "vec_id", "embedding")
      .localCheckpoint()
    Similarity.deltaSemNearDup(index, emb.filter(col("vec_id") % 5 === 4),
        "vec_id", "embedding", threshold = LshPairThreshold,
        rowsPerBand = 8)
      .orderBy("vec_id")
  }

  private lazy val q173Sql: String =
    s"""WITH $lshBandsSql,
       |candc AS (SELECT DISTINCT a.vec_id AS id_i, b.vec_id AS id_c
       |          FROM bands a JOIN bands b ON a.band = b.band
       |          WHERE a.vec_id % 5 = 4 AND b.vec_id % 5 <> 4),
       |vc AS (SELECT id_i, min(id_c) AS ck
       |       FROM candc JOIN e a ON a.vec_id = candc.id_i
       |                  JOIN e b ON b.vec_id = candc.id_c
       |       WHERE ${cosSql("a.e", "b.e")} >= $LshPairThreshold
       |       GROUP BY 1),
       |candb AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |          FROM bands a JOIN bands b
       |            ON a.band = b.band AND a.vec_id < b.vec_id
       |          WHERE a.vec_id % 5 = 4 AND b.vec_id % 5 = 4),
       |vb AS (SELECT id_b, min(id_a) AS bk
       |       FROM candb JOIN e a ON a.vec_id = candb.id_a
       |                  JOIN e b ON b.vec_id = candb.id_b
       |       WHERE ${cosSql("a.e", "b.e")} >= $LshPairThreshold
       |       GROUP BY 1)
       |SELECT v.vec_id,
       |       CASE WHEN vc.ck IS NOT NULL THEN 'dup_of_corpus'
       |            WHEN vb.bk IS NOT NULL THEN 'dup_in_batch'
       |            ELSE 'new' END AS status,
       |       CASE WHEN vc.ck IS NOT NULL THEN vc.ck ELSE vb.bk END AS dup_of
       |FROM embeddings v LEFT JOIN vc ON vc.id_i = v.vec_id
       |LEFT JOIN vb ON vb.id_b = v.vec_id
       |WHERE v.vec_id % 5 = 4
       |ORDER BY v.vec_id""".stripMargin

  /** Q185 — q173's incremental semantic probe run through the
    * PERSISTED signature store (see
    * [[graft.operators.IndexStore.write]] /
    * [[graft.operators.Similarity.deltaSemNearDupFromStore]]): same
    * split, threshold, and 16×8 banding, but the standing corpus lives
    * in the bucket-pruned parquet store and the probe reads only the
    * band-buckets its packed keys hash to plus its candidates'
    * id-buckets. Decisions are provably identical to the in-memory
    * probe at the store's recorded width, so this grades against
    * q173's own oracle — write→prune→probe checked value-for-value.
    */
  private def q185(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val path = QueryDefs.tempStoreDir("graft_q185_store")
    IndexStore.write(IndexStore.Semantic,
      Similarity.signatureFrame(
        emb.filter(col("vec_id") % 5 =!= 4), "vec_id", "embedding"),
      path, width = 8, bandBuckets = 16, idBuckets = 16)
    val batch = emb.filter(col("vec_id") % 5 === 4)
    Similarity.deltaSemNearDupFromStore(spark, path,
        batch.select("vec_id"),
        Similarity.signatureFrame(batch, "vec_id", "embedding")
          .localCheckpoint(),
        "vec_id", threshold = LshPairThreshold)
      .orderBy("vec_id")
  }

  /** Q186 — the incremental semantic probe at a WIDE, RECALL-GOVERNED
    * width (the round-17 `weak` closed and graded): q173's split and
    * threshold, but banded at q156's 12-bit width — the regime where
    * the volume knob engages and single-probe banding recall sags —
    * with the 1-flip probe repair on BOTH legs (the batch side probes
    * every ≤1-flipped band key against the standing frame's exact
    * keys; the within-batch leg is the q156 multi-probe pair path).
    * The oracle restates the ≤1-flip rule declaratively (the q156
    * convention): a cross or within pair is a candidate iff some
    * 12-bit band differs in ≤ 1 plane, then exact-cosine verify and
    * min-id keepers — so the probe rule itself is hash-graded, not
    * hoped equivalent to brute force.
    */
  private def q186(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val index = Similarity.signatureFrame(
        emb.filter(col("vec_id") % 5 =!= 4), "vec_id", "embedding")
      .localCheckpoint()
    Similarity.deltaSemNearDup(index, emb.filter(col("vec_id") % 5 === 4),
        "vec_id", "embedding", threshold = LshPairThreshold,
        rowsPerBand = MpPairRows, flips = 1)
      .orderBy("vec_id")
  }

  private lazy val q186Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |${lshSigSql(rows = MpPairRows, bands = MpPairBands)},
       |cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |         FROM sig a JOIN sig b ON a.vec_id < b.vec_id
       |         WHERE list_min(list_transform(range(0, $MpPairBands), bb ->
       |             list_reduce(list_transform(
       |                 list_zip(a.sg[bb*$MpPairRows+1 : bb*$MpPairRows+$MpPairRows],
       |                          b.sg[bb*$MpPairRows+1 : bb*$MpPairRows+$MpPairRows]),
       |                 s -> CASE WHEN struct_extract(s,1) != struct_extract(s,2)
       |                      THEN 1 ELSE 0 END), (x,y) -> x + y))) <= 1),
       |v AS (SELECT id_a, id_b FROM cand
       |      JOIN e a ON a.vec_id = cand.id_a
       |      JOIN e b ON b.vec_id = cand.id_b
       |      WHERE ${cosSql("a.e", "b.e")} >= $LshPairThreshold),
       |vc AS (SELECT CASE WHEN id_a % 5 = 4 THEN id_a ELSE id_b END AS id_i,
       |              min(CASE WHEN id_a % 5 = 4 THEN id_b ELSE id_a END) AS ck
       |       FROM v WHERE (id_a % 5 = 4) != (id_b % 5 = 4)
       |       GROUP BY 1),
       |vb AS (SELECT id_b, min(id_a) AS bk FROM v
       |       WHERE id_a % 5 = 4 AND id_b % 5 = 4 GROUP BY 1)
       |SELECT v2.vec_id,
       |       CASE WHEN vc.ck IS NOT NULL THEN 'dup_of_corpus'
       |            WHEN vb.bk IS NOT NULL THEN 'dup_in_batch'
       |            ELSE 'new' END AS status,
       |       CASE WHEN vc.ck IS NOT NULL THEN vc.ck ELSE vb.bk END AS dup_of
       |FROM embeddings v2 LEFT JOIN vc ON vc.id_i = v2.vec_id
       |LEFT JOIN vb ON vb.id_b = v2.vec_id
       |WHERE v2.vec_id % 5 = 4
       |ORDER BY v2.vec_id""".stripMargin

  /** Q188 — RETENTION graded in the semantic regime (VERDICT r17 #5):
    * q185's store is COMPACTED to the vectors surviving a retention cut
    * (`vec_id % 3 ≠ 0` — a stand-in keep list) via blue/green
    * [[graft.operators.IndexStore.compact]], then the
    * same batch probes the compacted store. The oracle is q173's exact
    * banding restated over the KEPT corpus only, so one hash checks
    * expiry end-to-end: a dropped vector must stop matching (batch
    * vectors whose only threshold-cosine match expired flip to `new` /
    * a later keeper), and every kept keeper must still match.
    */
  private def q188(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val corpus = emb.filter(col("vec_id") % 5 =!= 4)
    val path = QueryDefs.tempStoreDir("graft_q188_store")
    IndexStore.write(IndexStore.Semantic,
      Similarity.signatureFrame(corpus, "vec_id", "embedding"),
      path, width = 8, bandBuckets = 16, idBuckets = 16)
    val path2 = QueryDefs.tempStoreDir("graft_q188_store_compact")
    IndexStore.compact(spark, IndexStore.Semantic, path, path2,
      corpus.filter(col("vec_id") % 3 =!= 0)
        .select(col("vec_id").as("id")))
    val batch = emb.filter(col("vec_id") % 5 === 4)
    Similarity.deltaSemNearDupFromStore(spark, path2,
        batch.select("vec_id"),
        Similarity.signatureFrame(batch, "vec_id", "embedding")
          .localCheckpoint(),
        "vec_id", threshold = LshPairThreshold)
      .orderBy("vec_id")
  }

  private lazy val q188Sql: String =
    s"""WITH $lshBandsSql,
       |candc AS (SELECT DISTINCT a.vec_id AS id_i, b.vec_id AS id_c
       |          FROM bands a JOIN bands b ON a.band = b.band
       |          WHERE a.vec_id % 5 = 4 AND b.vec_id % 5 <> 4
       |            AND b.vec_id % 3 <> 0),
       |vc AS (SELECT id_i, min(id_c) AS ck
       |       FROM candc JOIN e a ON a.vec_id = candc.id_i
       |                  JOIN e b ON b.vec_id = candc.id_c
       |       WHERE ${cosSql("a.e", "b.e")} >= $LshPairThreshold
       |       GROUP BY 1),
       |candb AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |          FROM bands a JOIN bands b
       |            ON a.band = b.band AND a.vec_id < b.vec_id
       |          WHERE a.vec_id % 5 = 4 AND b.vec_id % 5 = 4),
       |vb AS (SELECT id_b, min(id_a) AS bk
       |       FROM candb JOIN e a ON a.vec_id = candb.id_a
       |                  JOIN e b ON b.vec_id = candb.id_b
       |       WHERE ${cosSql("a.e", "b.e")} >= $LshPairThreshold
       |       GROUP BY 1)
       |SELECT v.vec_id,
       |       CASE WHEN vc.ck IS NOT NULL THEN 'dup_of_corpus'
       |            WHEN vb.bk IS NOT NULL THEN 'dup_in_batch'
       |            ELSE 'new' END AS status,
       |       CASE WHEN vc.ck IS NOT NULL THEN vc.ck ELSE vb.bk END AS dup_of
       |FROM embeddings v LEFT JOIN vc ON vc.id_i = v.vec_id
       |LEFT JOIN vb ON vb.id_b = v.vec_id
       |WHERE v.vec_id % 5 = 4
       |ORDER BY v.vec_id""".stripMargin

  /** Q180 — the SEMANTIC index-maintenance step graded end-to-end
    * (VERDICT r16 #2): q173 grades ONE batch against a standing
    * [[graft.operators.Similarity]] `signatureFrame`; this grades the
    * two-batch ADMIT-THEN-PROBE sequence in the embedding regime,
    * mirroring the lexical q177. Batch A (`vec_id % 5 = 3`) is
    * classified against the corpus frame (`vec_id % 5 < 3`); its `new`
    * rows are ADMITTED — their signature rows (already computed for the
    * probe via [[graft.operators.Similarity.deltaSemNearDupFromIndex]])
    * append to the frame, the only maintenance the design requires,
    * valid because the hyperplane model is data-independent so
    * signatures built in different runs band identically — and batch B
    * (`% 5 = 4`) probes the GROWN frame, so a B vector whose only
    * threshold-cosine match is an admitted A vector must come back
    * `dup_of_corpus` pointing AT that A vector. Both batches' decisions
    * are emitted (tagged `batch`), so the oracle — q37's exact 16×8
    * banding restated over the three-way split, with the grown corpus
    * as `corpus ∪ {A : new}` — hash-checks admit and probe TOGETHER: a
    * wrong admission changes batch B's rows. Decisions and the grown
    * frame are `localCheckpoint`ed exactly as a pipeline persists them
    * between runs; PlanSpec pins that the final plan reads embedding
    * BYTES only for batch B (corpus + batch A enter as materialized
    * RDDs — zero embedding rescan).
    */
  private def q180(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val corpus = emb.filter(col("vec_id") % 5 < 3)
    val batchA = emb.filter(col("vec_id") % 5 === 3)
    val batchB = emb.filter(col("vec_id") % 5 === 4)
    val index0 = Similarity.signatureFrame(corpus, "vec_id", "embedding")
      .localCheckpoint()
    val idxA = Similarity.signatureFrame(batchA, "vec_id", "embedding")
      .localCheckpoint()
    val decA = Similarity.deltaSemNearDupFromIndex(index0,
        batchA.select("vec_id"), idxA, "vec_id",
        threshold = LshPairThreshold, rowsPerBand = 8)
      .localCheckpoint()
    val admitted = decA.filter(col("status") === "new")
      .select(col("vec_id").as("id"))
    val index1 = index0.unionByName(idxA.join(admitted, "id"))
      .localCheckpoint()
    val decB = Similarity.deltaSemNearDup(index1, batchB, "vec_id",
      "embedding", threshold = LshPairThreshold, rowsPerBand = 8)
    decA.withColumn("batch", lit("a"))
      .unionByName(decB.withColumn("batch", lit("b")))
      .orderBy("vec_id")
  }

  /** q180's brute-force restatement, parameterized by an optional extra
    * predicate over the standing set batch B probes (corpus ∪ batch A's
    * admits): q180 passes the empty cut, q193 the retention cut its
    * managed store applied mid-sequence — the [[q189SqlRetained]]
    * convention in the embedding regime.
    */
  private def q180SqlRetained(bCut: String): String =
    s"""WITH $lshBandsSql,
       |acm AS (SELECT a.vec_id AS doc_id, min(b.vec_id) AS ck
       |        FROM bands a JOIN bands b ON a.band = b.band
       |        JOIN e ea ON ea.vec_id = a.vec_id
       |        JOIN e eb ON eb.vec_id = b.vec_id
       |        WHERE a.vec_id % 5 = 3 AND b.vec_id % 5 < 3
       |          AND ${cosSql("ea.e", "eb.e")} >= $LshPairThreshold
       |        GROUP BY 1),
       |abm AS (SELECT y.vec_id AS doc_id, min(x.vec_id) AS bk
       |        FROM bands x JOIN bands y
       |          ON x.band = y.band AND x.vec_id < y.vec_id
       |        JOIN e ea ON ea.vec_id = x.vec_id
       |        JOIN e eb ON eb.vec_id = y.vec_id
       |        WHERE x.vec_id % 5 = 3 AND y.vec_id % 5 = 3
       |          AND ${cosSql("ea.e", "eb.e")} >= $LshPairThreshold
       |        GROUP BY 1),
       |adec AS (SELECT v.vec_id,
       |                CASE WHEN acm.ck IS NOT NULL THEN 'dup_of_corpus'
       |                     WHEN abm.bk IS NOT NULL THEN 'dup_in_batch'
       |                     ELSE 'new' END AS status,
       |                CASE WHEN acm.ck IS NOT NULL THEN acm.ck
       |                     ELSE abm.bk END AS dup_of
       |         FROM embeddings v LEFT JOIN acm ON acm.doc_id = v.vec_id
       |         LEFT JOIN abm ON abm.doc_id = v.vec_id
       |         WHERE v.vec_id % 5 = 3),
       |bcm AS (SELECT a.vec_id AS doc_id, min(b.vec_id) AS ck
       |        FROM bands a JOIN bands b ON a.band = b.band
       |        JOIN e ea ON ea.vec_id = a.vec_id
       |        JOIN e eb ON eb.vec_id = b.vec_id
       |        WHERE a.vec_id % 5 = 4
       |          AND (b.vec_id % 5 < 3 OR b.vec_id IN
       |               (SELECT vec_id FROM adec WHERE status = 'new'))
       |          $bCut
       |          AND ${cosSql("ea.e", "eb.e")} >= $LshPairThreshold
       |        GROUP BY 1),
       |bbm AS (SELECT y.vec_id AS doc_id, min(x.vec_id) AS bk
       |        FROM bands x JOIN bands y
       |          ON x.band = y.band AND x.vec_id < y.vec_id
       |        JOIN e ea ON ea.vec_id = x.vec_id
       |        JOIN e eb ON eb.vec_id = y.vec_id
       |        WHERE x.vec_id % 5 = 4 AND y.vec_id % 5 = 4
       |          AND ${cosSql("ea.e", "eb.e")} >= $LshPairThreshold
       |        GROUP BY 1),
       |bdec AS (SELECT v.vec_id,
       |                CASE WHEN bcm.ck IS NOT NULL THEN 'dup_of_corpus'
       |                     WHEN bbm.bk IS NOT NULL THEN 'dup_in_batch'
       |                     ELSE 'new' END AS status,
       |                CASE WHEN bcm.ck IS NOT NULL THEN bcm.ck
       |                     ELSE bbm.bk END AS dup_of
       |         FROM embeddings v LEFT JOIN bcm ON bcm.doc_id = v.vec_id
       |         LEFT JOIN bbm ON bbm.doc_id = v.vec_id
       |         WHERE v.vec_id % 5 = 4)
       |SELECT vec_id, status, dup_of, 'a' AS batch FROM adec
       |UNION ALL
       |SELECT vec_id, status, dup_of, 'b' AS batch FROM bdec
       |ORDER BY vec_id""".stripMargin

  private lazy val q180Sql: String = q180SqlRetained("")

  /** Q193 — MANAGED store maintenance graded end-to-end in the
    * SEMANTIC regime (the twin of the lexical q192, closing the last
    * test-only seam of the round-20 managed-root work): q180's
    * admit-then-probe sequence driven through a managed signature root
    * ([[graft.operators.Similarity.initManagedSignatureStore]]) with
    * BOTH maintenance operations run between the batches — a retention
    * compaction
    * ([[graft.operators.Similarity.compactManagedSignatureStore]]:
    * keep only `vec_id % 3 ≠ 0`, which also cuts batch A admits on the
    * 3-grid) and a bucket-count reband
    * ([[graft.operators.IndexStore.rebandManaged]]:
    * 16/16 → 8/8 with the width HELD at 8 rows/band, so the layout
    * changes but the banded candidate set is identical by
    * construction). Batch A probes v1 through the store path
    * ([[graft.operators.Similarity.deltaSemNearDupFromStore]] resolves
    * the `CURRENT` pointer) and its `new` signature rows append to v1;
    * batch B then probes the THIRD immutable version via the
    * durability→speed BRIDGE the decade measurement prescribes —
    * [[graft.operators.Similarity.readSignatureStore]] +
    * [[graft.operators.Similarity.storedRowsPerBand]] +
    * an in-memory [[graft.operators.Similarity.deltaSemNearDupFromIndex]]
    * probe at the recorded width — so one hash checks the managed
    * init, the pointer-resolved store probe, the admit landing in v1,
    * both green builds carrying it (minus the cut), the read-back
    * frame reproducing store decisions at the recorded width, and that
    * the cut (and nothing else) moved batch B's answer. The oracle is
    * [[q180SqlRetained]] with the same cut on the standing set batch B
    * sees.
    */
  private def q193(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val corpus = emb.filter(col("vec_id") % 5 < 3)
    val batchA = emb.filter(col("vec_id") % 5 === 3)
    val batchB = emb.filter(col("vec_id") % 5 === 4)
    val root = QueryDefs.tempStoreDir("graft_q193_store")
    Similarity.initManagedSignatureStore(spark, root,
      Similarity.signatureFrame(corpus, "vec_id", "embedding"),
      rowsPerBand = 8, bandBuckets = 16, idBuckets = 16)
    val idxA = Similarity.signatureFrame(batchA, "vec_id", "embedding")
      .localCheckpoint()
    val decA = Similarity.deltaSemNearDupFromStore(spark, root,
        batchA.select("vec_id"), idxA, "vec_id",
        threshold = LshPairThreshold)
      .localCheckpoint()
    Similarity.appendSignatureStore(spark, root,
      idxA.join(decA.filter(col("status") === "new")
        .select(col("vec_id").as("id")), "id"))
    Similarity.compactManagedSignatureStore(spark, root,
      emb.filter(col("vec_id") % 5 =!= 4)
        .filter(col("vec_id") % 3 =!= 0).select("vec_id"))
    IndexStore.rebandManaged(spark, IndexStore.Semantic, root, width = 8,
      bandBuckets = 8, idBuckets = 8)
    val frame = Similarity.readSignatureStore(spark, root).localCheckpoint()
    val decB = Similarity.deltaSemNearDupFromIndex(frame,
      batchB.select("vec_id"),
      Similarity.signatureFrame(batchB, "vec_id", "embedding")
        .localCheckpoint(),
      "vec_id", threshold = LshPairThreshold,
      rowsPerBand = Similarity.storedRowsPerBand(spark, root))
    decA.withColumn("batch", lit("a"))
      .unionByName(decB.withColumn("batch", lit("b")))
      .orderBy("vec_id")
  }

  private lazy val q193Sql: String =
    q180SqlRetained("AND b.vec_id % 3 <> 0")

  /** q156's wide-band multi-probe configuration: 12-bit bands (the
    * regime where single-probe recall sags near the threshold —
    * BASELINE.md skew section) recovered by 1-plane probes. */
  private val MpPairRows = 12
  private val MpPairBands = 10

  /** Q156 — MULTI-PROBE banded LSH pairs at a WIDE band width: the
    * recall-repair twin of q37 (see
    * [[graft.operators.Similarity.lshNearDupPairsMultiProbe]]). Graded
    * end-to-end: the oracle restates the plane signatures and admits a
    * candidate when some 12-bit band differs in ≤ 1 plane — exactly the
    * 1-bit-flip probe set — then verifies the exact cosine.
    */
  private def q156(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshNearDupPairsMultiProbeFromSig(
        SharedFrames.embSignatures(spark, dir),
        threshold = LshPairThreshold, rowsPerBand = MpPairRows)
      .orderBy("id_a", "id_b")

  /** The oracle enumerates all pairs and keeps those whose best band
    * Hamming distance is ≤ 1 — the flip-probe candidate set stated
    * declaratively (the all-pairs form is the oracle's prerogative at
    * sf0.01; the engine side joins probe keys and never goes O(n²)).
    */
  private lazy val q156Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |${lshSigSql(rows = MpPairRows, bands = MpPairBands)},
       |cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |         FROM sig a JOIN sig b ON a.vec_id < b.vec_id
       |         WHERE list_min(list_transform(range(0, $MpPairBands), bb ->
       |             list_reduce(list_transform(
       |                 list_zip(a.sg[bb*$MpPairRows+1 : bb*$MpPairRows+$MpPairRows],
       |                          b.sg[bb*$MpPairRows+1 : bb*$MpPairRows+$MpPairRows]),
       |                 s -> CASE WHEN struct_extract(s,1) != struct_extract(s,2)
       |                      THEN 1 ELSE 0 END), (x,y) -> x + y))) <= 1),
       |n AS (SELECT vec_id, e,
       |        sqrt(list_reduce(list_transform(e, x -> x*x), (x,y) -> x + y)) AS nm
       |      FROM e),
       |p AS (SELECT id_a, id_b,
       |        list_reduce(list_transform(list_zip(a.e, b.e),
       |            s -> struct_extract(s,1) * struct_extract(s,2)), (x,y) -> x + y)
       |          / (a.nm * b.nm) AS cs
       |      FROM cand JOIN n a ON a.vec_id = cand.id_a
       |                JOIN n b ON b.vec_id = cand.id_b)
       |SELECT id_a, id_b, round(cs, 6) AS cos_sim FROM p
       |WHERE cs >= $LshPairThreshold
       |ORDER BY id_a, id_b""".stripMargin

  private[queries] val IvfCentroids = 32
  private[queries] val IvfProbes = 4

  /** Q33 — IVF ANN top-k (coarse-quantizer cells + nProbe exact re-rank).
    * Fully oracle-graded: IVF involves no hashing at all — centroids are
    * the `nCentroids` lowest-id vectors, assignment is a cosine argmax,
    * probing takes the query's nProbe nearest cells — so the oracle
    * restates the whole algorithm in SQL (same tie-breaks, same fold
    * order) and must reproduce the exact top-k.
    */
  private def q33(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(Tables.embeddings(spark, dir), "vec_id", "embedding",
      queryVec(spark, dir), k = 20,
      nCentroids = IvfCentroids, nProbe = IvfProbes)

  private lazy val q33Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |cents AS (SELECT vec_id AS cent, e AS ce FROM e ORDER BY vec_id LIMIT $IvfCentroids),
       |aff AS (SELECT e.vec_id, c.cent, ${cosSql("e.e", "c.ce")} AS cs FROM e, cents c),
       |cell AS (SELECT vec_id, cent AS cell FROM (
       |           SELECT vec_id, cent,
       |                  row_number() OVER (PARTITION BY vec_id ORDER BY (0.0 - cs), cent) AS rn
       |           FROM aff) WHERE rn = 1),
       |probes AS (SELECT cent AS cell FROM (
       |             SELECT cent, row_number() OVER (ORDER BY (0.0 - cs), cent) AS rn
       |             FROM aff WHERE vec_id = 0) WHERE rn <= $IvfProbes),
       |q AS (SELECT e AS qe FROM e WHERE vec_id = 0),
       |s AS (SELECT e.vec_id, ${cosSql("e.e", "qe")} AS cs
       |      FROM e JOIN cell USING (vec_id) JOIN probes ON cell.cell = probes.cell, q)
       |SELECT vec_id, round(cs, 6) AS cos_sim FROM s
       |ORDER BY cos_sim DESC, vec_id LIMIT 20""".stripMargin

  // --------------------------------------------------- sessionize / gaps

  private val SessionGapUs = 43200000000L // 12 h
  private val GapThresholdUs = 86400000000L // 24 h

  /** Q29 — per-user sessionization (12 h inactivity gap) + session rollup. */
  private def q29(spark: SparkSession, dir: String): DataFrame =
    Sessionize.assign(Tables.events(spark, dir), "user_id", "ts", "event_id",
        gapUs = SessionGapUs)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(
        max(col("session_id")).as("n_sessions"),
        max(col("c")).as("max_session_events"),
        sum(col("c")).as("total_events"))
      .orderBy("user_id")

  private val q29Sql =
    s"""WITH x AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us,
       |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
       |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > $SessionGapUs
       |              THEN 1 ELSE 0 END AS ns
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |s AS (SELECT user_id,
       |        (sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS sid
       |      FROM x),
       |per AS (SELECT user_id, sid, count(*) AS c FROM s GROUP BY 1, 2)
       |SELECT user_id, max(sid) AS n_sessions, max(c) AS max_session_events,
       |       sum(c)::BIGINT AS total_events
       |FROM per GROUP BY 1 ORDER BY 1""".stripMargin

  /** Q30 — per-user inter-event gap statistics (24 h threshold). */
  private def q30(spark: SparkSession, dir: String): DataFrame =
    Sessionize.gapStats(Tables.events(spark, dir), "user_id", "ts", "event_id",
        thresholdUs = GapThresholdUs)
      .orderBy("user_id")

  private val q30Sql =
    s"""WITH g AS (
       |  SELECT user_id, epoch_us(ts) - lag(epoch_us(ts))
       |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
       |  FROM events)
       |SELECT user_id, max(gap) AS max_gap_us,
       |       count(CASE WHEN gap > $GapThresholdUs THEN 1 END) AS gaps_over_threshold
       |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------ multimodal

  /** Q31 — multimodal decode plumbing: pack text into the binary-payload
    * layout, run the (stubbed) per-partition feature extraction. The
    * oracle recomputes the stub's arithmetic from the raw text — the
    * payload bytes are the UTF-8 (here ASCII) text bytes.
    */
  private def q31(spark: SparkSession, dir: String): DataFrame = {
    val packed = Multimodal.packBmp(Tables.documents(spark, dir), "doc_id", "text")
    Multimodal.decodeImageFeatures(packed, "doc_id").orderBy("id")
  }

  /** The oracle recomputes every decoded feature from FIRST PRINCIPLES
    * over the source text — never from the binary: the BMP container is
    * a pure function of the text bytes (fixed 8-px width, 24-byte rows,
    * zero padding), so header fields and the pixel-array byte mean are
    * all derivable from `encode(text)` alone. Spark must parse its own
    * packed bytes back to exactly these values for the hash to match —
    * grading the real header parse end-to-end.
    */
  private val q31Sql =
    """WITH b AS (SELECT doc_id, encode(text) AS bb,
      |                  octet_length(encode(text)) AS n,
      |                  greatest((octet_length(encode(text)) + 23) // 24, 1)
      |                    AS h
      |           FROM documents)
      |SELECT doc_id AS id, 'bmp' AS format, 8 AS width, h::INTEGER AS height,
      |       3 AS channels,
      |       coalesce(list_sum(list_transform(range(1, n + 1),
      |           i -> ('0x' || substr(hex(bb), 2*i - 1, 2))::BIGINT)), 0)
      |         / (h * 24.0) AS byte_mean
      |FROM b ORDER BY id""".stripMargin

  /** Q155 — JPEG metadata decode: pack each document into a REAL
    * JPEG/JFIF container ([[graft.operators.Multimodal.packJfif]] — the
    * COM segment's length varies with the payload, so SOF0 sits at a
    * different offset per row) and run the marker-walk decode
    * ([[graft.expressions.ImageFeatures]]). Graded columns are the frame
    * header fields (dims + channels); `byte_mean` is structurally null
    * for entropy-coded formats (the documented codec seam) and is
    * excluded — a null double crosses the pyarrow/pandas driver boundary
    * as None-vs-NaN and would hash-mismatch on typing alone.
    */
  private def q155(spark: SparkSession, dir: String): DataFrame = {
    val packed = Multimodal.packJfif(Tables.documents(spark, dir), "doc_id", "text")
    Multimodal.decodeImageFeatures(packed, "doc_id")
      .select("id", "format", "width", "height", "channels")
      .orderBy("id")
  }

  /** The oracle restates the SOF0 fields from first principles over the
    * source text — width is the fixed synthesis constant, height the
    * ⌈bytes/width⌉ formula, channels the fixed 3-component layout. Spark
    * must walk its own marker stream (past the per-row variable-length
    * COM segment) back to exactly these values for the hash to match.
    */
  private val q155Sql =
    """SELECT doc_id AS id, 'jpeg' AS format, 16 AS width,
      |       greatest((octet_length(encode(text)) + 15) // 16, 1)::INTEGER
      |         AS height,
      |       3 AS channels
      |FROM documents ORDER BY id""".stripMargin

  /** Q32 — frame sampling: slice each payload into 4 fixed-width binary
    * frames; grade the per-frame byte length and md5.
    */
  private def q32(spark: SparkSession, dir: String): DataFrame =
    Multimodal.frameSample(
        Multimodal.packText(Tables.documents(spark, dir), "doc_id", "text"),
        "doc_id", n = 4)
      .withColumn("frame_md5", md5(col("frame")))
      .select(col("doc_id"), col("frame_idx"), col("frame_bytes"), col("frame_md5"))
      .orderBy("doc_id", "frame_idx")

  private val q32Sql =
    """SELECT doc_id, i AS frame_idx,
      |       length(substr(text, (length(text) // 4) * i + 1,
      |                     greatest(length(text) // 4, 1))) AS frame_bytes,
      |       md5(substr(text, (length(text) // 4) * i + 1,
      |                  greatest(length(text) // 4, 1))) AS frame_md5
      |FROM documents, (SELECT unnest(range(0, 4)) AS i)
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** Q106 — audio-style frame features: the q32 frame sampling composed
    * with the integer-exact PCM statistics kernel (see
    * [[graft.operators.Multimodal.audioFrameStats]]) — sample count,
    * amplitude moments, and frame-mean crossings per frame, graded
    * value-for-value from the source text bytes.
    */
  private def q106(spark: SparkSession, dir: String): DataFrame =
    Multimodal.audioFrameStats(
        Multimodal.packText(Tables.documents(spark, dir), "doc_id", "text"),
        "doc_id", n = 4)
      .orderBy("doc_id", "frame_idx")

  private val q106Sql =
    """WITH fr AS (SELECT doc_id, i AS frame_idx,
      |                   substr(text, (length(text) // 4) * i + 1,
      |                          greatest(length(text) // 4, 1)) AS f
      |            FROM documents, (SELECT unnest(range(0, 4)) AS i)),
      |c AS (SELECT doc_id, frame_idx, length(f)::BIGINT AS n,
      |             list_transform(range(1, length(f) + 1),
      |                            k -> ord(substr(f, k, 1))::BIGINT) AS v
      |      FROM fr),
      |s AS (SELECT doc_id, frame_idx, n, v,
      |             coalesce(list_sum(v), 0)::BIGINT AS sum_amp,
      |             coalesce(list_sum(list_transform(v, x -> x * x)), 0)::BIGINT
      |               AS energy
      |      FROM c)
      |SELECT doc_id, frame_idx, n AS n_samples, sum_amp, energy,
      |       coalesce(list_sum(list_transform(range(2, n + 1),
      |         k -> CASE WHEN (v[k] * n > sum_amp) != (v[k - 1] * n > sum_amp)
      |                   THEN 1 ELSE 0 END)), 0)::BIGINT AS mean_crossings
      |FROM s ORDER BY doc_id, frame_idx""".stripMargin

  /** Hamming radius for the q104 image near-dup pairs. */
  private val ImgHamming = 4

  /** Q104 — IMAGE near-dup pairs: every document's BMP payload (the
    * q31 packing) compresses to the 60-bit block-mean perceptual hash
    * and near-identical images pair up within Hamming ≤ $ImgHamming —
    * the multimodal column's dedup step (see
    * [[graft.operators.Dedup.imageNearDupPairs]]). The oracle
    * recomputes the hash from FIRST PRINCIPLES over the source text
    * (the pixel array is a pure function of the text bytes — the q31
    * convention) and verifies pairs by brute-force Hamming, which the
    * pigeonhole generation equals losslessly at this radius.
    */
  private def q104(spark: SparkSession, dir: String): DataFrame =
    Dedup.imageNearDupPairs(
        Multimodal.packBmp(Tables.documents(spark, dir), "doc_id", "text"),
        "doc_id", "payload", maxHamming = ImgHamming)
      .orderBy("id_a", "id_b")

  private val q104Sql =
    s"""WITH b AS (SELECT doc_id, encode(text) AS bb,
       |                  octet_length(encode(text)) AS n,
       |                  greatest((octet_length(encode(text)) + 23) // 24, 1)
       |                    * 24 AS total
       |           FROM documents WHERE text IS NOT NULL),
       |tb AS (SELECT doc_id, total, bb, unnest(range(1, n + 1)) AS i FROM b),
       |tv AS (SELECT doc_id, ((i - 1) * 60) // total AS blk,
       |              ('0x' || substr(hex(bb), 2*i - 1, 2))::BIGINT AS v
       |       FROM tb),
       |sums AS (SELECT doc_id, blk, sum(v)::BIGINT AS s FROM tv GROUP BY 1, 2),
       |tot AS (SELECT doc_id, sum(v)::BIGINT AS ts FROM tv GROUP BY 1),
       |pz AS (SELECT doc_id, total, unnest(range(0, total)) AS p FROM b),
       |sz AS (SELECT doc_id, (p * 60) // total AS blk, count(*)::BIGINT AS size,
       |              any_value(total) AS total
       |       FROM pz GROUP BY 1, 2),
       |hash AS (SELECT sz.doc_id,
       |                sum(CASE WHEN coalesce(s, 0) * sz.total
       |                              > tot.ts * sz.size
       |                         THEN 1::BIGINT << blk ELSE 0 END)::BIGINT AS sig
       |         FROM sz LEFT JOIN sums USING (doc_id, blk)
       |                 JOIN tot USING (doc_id)
       |         GROUP BY 1)
       |SELECT a.doc_id AS id_a, c.doc_id AS id_b,
       |       bit_count(xor(a.sig, c.sig))::BIGINT AS hamming
       |FROM hash a JOIN hash c ON a.doc_id < c.doc_id
       |WHERE bit_count(xor(a.sig, c.sig)) <= $ImgHamming
       |ORDER BY id_a, id_b""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q19_exact_dedup", q19, Some(q19Sql)),
    QueryDef("q20_tokenset_dedup", q20, Some(q20Sql)),
    QueryDef("q21_ngram_jaccard", q21, Some(ngramJaccardSql)),
    QueryDef("q157_prefix_rarity", q157, Some(ngramJaccardSql)),
    QueryDef("q22_minhash_neardup", q22, Some(ngramJaccardSql)),
    QueryDef("q140_containment_pairs", q140, Some(q140Sql)),
    QueryDef("q34_simhash_neardup", q34, Some(q34Sql)),
    QueryDef("q35_simhash_portable", q35, Some(q35Sql)),
    QueryDef("q23_text_stats", q23, Some(q23Sql)),
    QueryDef("q24_langid", q24, Some(q24Sql)),
    QueryDef("q25_doc_fingerprint", q25, Some(q25Sql)),
    QueryDef("q26_cosine_topk", q26, Some(q26Sql)),
    QueryDef("q27_cosine_pairs", q27, Some(q27Sql)),
    QueryDef("q28_ann_lsh_topk", q28, Some(q28Sql)),
    QueryDef("q37_ann_lsh_pairs", q37, Some(q37Sql)),
    QueryDef("q156_mplsh_pairs", q156, Some(q156Sql)),
    QueryDef("q173_delta_sem_neardup", q173, Some(q173Sql)),
    QueryDef("q180_admit_probe_sem_neardup", q180, Some(q180Sql)),
    QueryDef("q185_sem_store_probe", q185, Some(q173Sql)),
    QueryDef("q186_delta_sem_multiprobe", q186, Some(q186Sql)),
    QueryDef("q188_sem_compact_probe", q188, Some(q188Sql)),
    QueryDef("q193_managed_sem_maintenance", q193, Some(q193Sql)),
    QueryDef("q33_ann_ivf_topk", q33, Some(q33Sql)),
    QueryDef("q29_sessionize", q29, Some(q29Sql)),
    QueryDef("q30_gap_stats", q30, Some(q30Sql)),
    QueryDef("q31_multimodal_features", q31, Some(q31Sql)),
    QueryDef("q155_jpeg_features", q155, Some(q155Sql)),
    QueryDef("q32_frame_sample", q32, Some(q32Sql)),
    QueryDef("q104_image_neardup", q104, Some(q104Sql)),
    QueryDef("q106_audio_frames", q106, Some(q106Sql)),
    QueryDef("q109_char_stats", q109, Some(q109Sql)),
    QueryDef("q110_contrastive_pairs", q110, Some(q110Sql)),
    QueryDef("q111_mmr_rerank", q111, Some(q111Sql)),
    QueryDef("q112_knn_label", q112, Some(q112Sql)),
    QueryDef("q113_quality_calibrate", q113, Some(q113Sql)),
    QueryDef("q114_proto_prune", q114, Some(q114Sql)),
    QueryDef("q115_winnow_fingerprints", q115, Some(q115Sql)),
    QueryDef("q116_winnow_overlap", q116, Some(q116Sql)),
    QueryDef("q117_stupid_backoff", q117, Some(q117Sql)),
    QueryDef("q119_source_jsd", q119, Some(q119Sql)),
    QueryDef("q120_mean_pool", q120, Some(q120Sql)),
    QueryDef("q127_random_project", q127, Some(q127Sql)))
}
