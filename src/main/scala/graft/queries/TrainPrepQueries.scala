package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Bm25, TextFns}
import graft.operators.{Curation, Dedup, Fusion, IndexStore, Similarity}
import graft.sources.Tables

/** Q73–Q98 — the training-prep surface: the remaining steps between
  * a curated corpus and training shards, plus the evaluation harness a
  * pipeline runs over its own indexes —
  *
  *   - contamination SCORING (containment fraction per doc, q73 — the
  *     threshold-policy view of q57's flags; q80 is the same algorithm
  *     as a stream-safe row-wise kernel, graded by the same oracle),
  *   - INCREMENTAL dedup of a new batch against the standing corpus
  *     (q74 — the continuous-ingest decision: new / dup-of-corpus /
  *     dup-in-batch),
  *   - deterministic global shuffle + shard/position assignment (q75),
  *   - per-stratum quality-budgeted selection (q76 — greedy fill under
  *     a token budget),
  *   - the BPE merge-candidate census (q77 — tokenizer training's inner
  *     loop over the distinct-word frame),
  *   - the retrieval-evaluation harness: batched brute-force top-k
  *     ground truth (q78), LSH recall@k (q79), batched IVF retrieval
  *     (q84) and IVF recall@k (q86),
  *   - span-level and cross-source duplication dashboards (q81, q82),
  *   - stream-safe repetition signals (q83, graded by q56's oracle) and
  *     the composed stateless curation pass (q85),
  *   - CCNet-style perplexity bucketing (q87 — per-language rank
  *     terciles over the cross-entropy score),
  *   - the ITERATIVE BPE trainer and its encoding application (q88,
  *     q91), product quantization — codes, ADC recall, and the composed
  *     IVF-PQ index (q89, q90, q92),
  *   - span-level excision, both cross-document (q93) and
  *     benchmark-contamination (q95), and
  *   - temperature-scaled mixture weighting (q94), and
  *   - DSIR importance weighting, its Gumbel-top-k resampling, and
  *     the stream-safe row-wise scoring twin (q97, q98, q103 —
  *     hashed-bigram target-likeness selection), and
  *   - BM25 lexical retrieval (q101 — the term-based index family
  *     next to the embedding ones) with reciprocal-rank fusion of
  *     the ANN index rankings (q102), and
  *   - T5-style span corruption (q107 — the corpus as deterministic
  *     denoising (input, target) pairs).
  *
  * Oracle discipline unchanged from the earlier modules: full-algorithm
  * DuckDB restatements, integer counts divided once at the end, every
  * graded float carries `round(_, 6)` and is rounded BEFORE any
  * ordering that depends on it.
  */
object TrainPrepQueries {

  // ------------------------------------------------- contamination score

  /** Benchmark cut shared with q57: docs below this id play the eval set. */
  private val BenchCut = 25

  /** Q73 — contamination scoring: every corpus doc's distinct-5-gram
    * count, benchmark-overlap count, and containment fraction — clean
    * docs included at 0 (see
    * [[graft.operators.Curation.contaminationScore]]).
    */
  private def q73(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Curation.contaminationScore(
        docs.filter(col("doc_id") >= BenchCut),
        docs.filter(col("doc_id") < BenchCut),
        "doc_id", "text", n = 5)
      .orderBy("doc_id")
  }

  // `WHERE text IS NOT NULL` pins the null-text contract both operators
  // implement (null shingles explode/filter to nothing → the doc is
  // absent), so the LEFT JOIN below cannot resurrect a null-text doc at
  // (0, 0, 0.0) that Spark never emits
  private val q73Sql =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
       |           FROM documents WHERE text IS NOT NULL),
       |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |          range(1, len(toks) - 3),
       |          i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
       |                         toks[i+3], toks[i+4])))) AS g
       |      FROM d),
       |b AS (SELECT DISTINCT g FROM g WHERE doc_id < $BenchCut),
       |cnt AS (SELECT doc_id, count(*)::BIGINT AS n_grams FROM g
       |        WHERE doc_id >= $BenchCut GROUP BY 1),
       |ov AS (SELECT g.doc_id, count(*)::BIGINT AS n_overlap
       |       FROM g JOIN b USING (g) WHERE g.doc_id >= $BenchCut
       |       GROUP BY 1)
       |SELECT d.doc_id, coalesce(cnt.n_grams, 0)::BIGINT AS n_grams,
       |       coalesce(ov.n_overlap, 0)::BIGINT AS n_overlap,
       |       CASE WHEN coalesce(cnt.n_grams, 0) = 0 THEN 0.0
       |            ELSE round(coalesce(ov.n_overlap, 0) / cnt.n_grams, 6)
       |       END AS containment
       |FROM d LEFT JOIN cnt USING (doc_id) LEFT JOIN ov USING (doc_id)
       |WHERE d.doc_id >= $BenchCut ORDER BY doc_id""".stripMargin

  /** Q80 — q73's scoring as the STATELESS per-row kernel (benchmark
    * grams collapsed to one broadcast array, in-row `array_intersect` —
    * no gram join, stream-safe; see
    * [[graft.operators.Curation.contaminationScoreRowwise]]). Same
    * output contract as q73, so it is graded against the SAME oracle —
    * two independent plans, one algorithm of record.
    */
  private def q80(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    QueryDefs.orderByOnce(Curation.contaminationScoreRowwise(
        docs.filter(col("doc_id") >= BenchCut),
        docs.filter(col("doc_id") < BenchCut),
        "doc_id", "text", n = 5), col("doc_id"))
  }

  // ---------------------------------------------------- incremental dedup

  /** Every 5th doc plays the incoming batch; the rest are the corpus. */
  private val DeltaMod = 5

  /** Q74 — incremental dedup: the interleaved "new batch" classified
    * against the standing corpus by token-set key — new / dup_of_corpus
    * / dup_in_batch with the keeper id (see
    * [[graft.operators.Dedup.deltaDedup]]).
    */
  private def q74(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.deltaDedup(
        docs.filter(col("doc_id") % DeltaMod =!= DeltaMod - 1),
        docs.filter(col("doc_id") % DeltaMod === DeltaMod - 1),
        "doc_id", TextFns.tokenSetKey(col("text")))
      .orderBy("doc_id")
  }

  private val q74Sql =
    s"""WITH f AS (SELECT doc_id, array_to_string(list_sort(list_distinct(
       |             list_filter(string_split_regex(lower(text), '\\s+'),
       |                         t -> t != ''))), ' ') AS fp
       |           FROM documents),
       |ex AS (SELECT fp, min(doc_id) AS ck FROM f
       |       WHERE doc_id % $DeltaMod != ${DeltaMod - 1} GROUP BY 1),
       |inc AS (SELECT doc_id, fp,
       |               min(doc_id) OVER (PARTITION BY fp) AS bk
       |        FROM f WHERE doc_id % $DeltaMod = ${DeltaMod - 1})
       |SELECT inc.doc_id,
       |       CASE WHEN ex.ck IS NOT NULL THEN 'dup_of_corpus'
       |            WHEN inc.doc_id = inc.bk THEN 'new'
       |            ELSE 'dup_in_batch' END AS status,
       |       CASE WHEN ex.ck IS NOT NULL THEN ex.ck
       |            WHEN inc.doc_id != inc.bk THEN inc.bk END AS dup_of
       |FROM inc LEFT JOIN ex USING (fp) ORDER BY doc_id""".stripMargin

  /** Q167 — INCREMENTAL banded near-dup: q74's continuous-ingest
    * decision extended to the NEAR-dup regime (see
    * [[graft.operators.Dedup.deltaNearDup]]): the interleaved "new
    * batch" classified against a PERSISTED [[graft.operators.Dedup.nearDupIndex]]
    * frame of the standing corpus (localCheckpoint stands in for the
    * parquet index table a pipeline keeps) — new / dup_of_corpus /
    * dup_in_batch with the smallest threshold-similar keeper. The
    * oracle restates the SEMANTICS as brute-force exact Jaccard over
    * the same split — equality holds because every emitted decision is
    * exact-verified and banding recall is complete here (the q22
    * convention, same n/threshold/band layout). PlanSpec's re-banding
    * guard pins that the corpus side of the plan derives entirely from
    * the index frame.
    */
  private def q167(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val index = Dedup.nearDupIndex(
      docs.filter(col("doc_id") % DeltaMod =!= DeltaMod - 1),
      "doc_id", "text", n = 3).localCheckpoint()
    Dedup.deltaNearDup(index,
        docs.filter(col("doc_id") % DeltaMod === DeltaMod - 1),
        "doc_id", "text", n = 3, threshold = 0.6)
      .orderBy("doc_id")
  }

  private val q167Sql =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
       |              FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
       |           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
       |       FROM toks),
       |d AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
       |c AS (SELECT * FROM d WHERE doc_id % $DeltaMod != ${DeltaMod - 1}),
       |i AS (SELECT * FROM d WHERE doc_id % $DeltaMod = ${DeltaMod - 1}),
       |cm AS (SELECT i.doc_id AS doc_id, min(c.doc_id) AS ck
       |       FROM i JOIN c ON len(list_intersect(i.s, c.s))::DOUBLE
       |           / (len(i.s) + len(c.s) - len(list_intersect(i.s, c.s)))
       |           >= 0.6
       |       GROUP BY 1),
       |bm AS (SELECT b.doc_id AS doc_id, min(a.doc_id) AS bk
       |       FROM i a JOIN i b ON a.doc_id < b.doc_id
       |            AND len(list_intersect(a.s, b.s))::DOUBLE
       |              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
       |              >= 0.6
       |       GROUP BY 1)
       |SELECT doc.doc_id,
       |       CASE WHEN cm.ck IS NOT NULL THEN 'dup_of_corpus'
       |            WHEN bm.bk IS NOT NULL THEN 'dup_in_batch'
       |            ELSE 'new' END AS status,
       |       CASE WHEN cm.ck IS NOT NULL THEN cm.ck ELSE bm.bk END AS dup_of
       |FROM documents doc LEFT JOIN cm USING (doc_id)
       |LEFT JOIN bm USING (doc_id)
       |WHERE doc.doc_id % $DeltaMod = ${DeltaMod - 1}
       |ORDER BY doc_id""".stripMargin

  /** Q183 — the incremental probe against the PERSISTED, bucket-pruned
    * index store (see [[graft.operators.IndexStore.write]] /
    * [[graft.operators.Dedup.deltaNearDupFromStore]]): q167's exact
    * contract — same split, same threshold, same banding — but the
    * standing corpus lives in the partitioned parquet store a
    * continuous-ingest pipeline keeps, and the probe reads ONLY the
    * band-buckets its own keys hash to plus the id-buckets its
    * candidates live in (two bounded driver collects resolve the
    * partition filters). Decisions are provably identical to the
    * in-memory probe (the pruned payload is a superset of every
    * band-matching doc), so this grades against q167's own brute-force
    * oracle — the store's write→prune→probe path checked value-for-value
    * by DuckDB.
    */
  private def q183(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val path = QueryDefs.tempStoreDir("graft_q183_store")
    IndexStore.write(IndexStore.Lexical,
      Dedup.nearDupIndex(
        docs.filter(col("doc_id") % DeltaMod =!= DeltaMod - 1),
        "doc_id", "text", n = 3),
      path, width = 32, bandBuckets = 64, idBuckets = 64)
    val batch = docs.filter(col("doc_id") % DeltaMod === DeltaMod - 1)
    Dedup.deltaNearDupFromStore(spark, path, batch.select("doc_id"),
        Dedup.nearDupIndex(batch, "doc_id", "text", n = 3)
          .localCheckpoint(),
        "doc_id", threshold = 0.6)
      .orderBy("doc_id")
  }

  /** Q187 — RETENTION graded end-to-end (VERDICT r17 #5): q183's store
    * is COMPACTED to the docs surviving a retention cut
    * (`doc_id % 3 ≠ 0` — a stand-in keep list: a dedup keep list or a
    * recency cut in deployment) via blue/green
    * [[graft.operators.IndexStore.compact]], and the same
    * batch then probes the compacted store. The oracle is q167's
    * brute-force exact Jaccard restated over the KEPT corpus only, so
    * one hash checks expiry the way q184 checks append: a batch doc
    * whose only near-match expired must flip to `new` (or to the next
    * surviving keeper), and a kept keeper must still match — the
    * banded table provably regenerates no candidates for dropped docs.
    */
  private def q187(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % DeltaMod =!= DeltaMod - 1)
    val path = QueryDefs.tempStoreDir("graft_q187_store")
    IndexStore.write(IndexStore.Lexical,
      Dedup.nearDupIndex(corpus, "doc_id", "text", n = 3),
      path, width = 32, bandBuckets = 16, idBuckets = 16)
    val path2 = QueryDefs.tempStoreDir("graft_q187_store_compact")
    IndexStore.compact(spark, IndexStore.Lexical, path, path2,
      corpus.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id").as("id")))
    val batch = docs.filter(col("doc_id") % DeltaMod === DeltaMod - 1)
    Dedup.deltaNearDupFromStore(spark, path2, batch.select("doc_id"),
        Dedup.nearDupIndex(batch, "doc_id", "text", n = 3)
          .localCheckpoint(),
        "doc_id", threshold = 0.6)
      .orderBy("doc_id")
  }

  private val q187Sql =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
       |              FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
       |           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
       |       FROM toks),
       |d AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
       |c AS (SELECT * FROM d WHERE doc_id % $DeltaMod != ${DeltaMod - 1}
       |      AND doc_id % 3 != 0),
       |i AS (SELECT * FROM d WHERE doc_id % $DeltaMod = ${DeltaMod - 1}),
       |cm AS (SELECT i.doc_id AS doc_id, min(c.doc_id) AS ck
       |       FROM i JOIN c ON len(list_intersect(i.s, c.s))::DOUBLE
       |           / (len(i.s) + len(c.s) - len(list_intersect(i.s, c.s)))
       |           >= 0.6
       |       GROUP BY 1),
       |bm AS (SELECT b.doc_id AS doc_id, min(a.doc_id) AS bk
       |       FROM i a JOIN i b ON a.doc_id < b.doc_id
       |            AND len(list_intersect(a.s, b.s))::DOUBLE
       |              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
       |              >= 0.6
       |       GROUP BY 1)
       |SELECT doc.doc_id,
       |       CASE WHEN cm.ck IS NOT NULL THEN 'dup_of_corpus'
       |            WHEN bm.bk IS NOT NULL THEN 'dup_in_batch'
       |            ELSE 'new' END AS status,
       |       CASE WHEN cm.ck IS NOT NULL THEN cm.ck ELSE bm.bk END AS dup_of
       |FROM documents doc LEFT JOIN cm USING (doc_id)
       |LEFT JOIN bm USING (doc_id)
       |WHERE doc.doc_id % $DeltaMod = ${DeltaMod - 1}
       |ORDER BY doc_id""".stripMargin

  /** Q184 — q177's ADMIT-THEN-PROBE sequence run through the PERSISTED
    * store (write → probe A → `IndexStore.append` the admitted
    * rows → probe B against the GROWN store): the full maintenance loop
    * a continuous-ingest pipeline actually executes against its parquet
    * index, graded value-for-value by q177's own exact-Jaccard oracle
    * (store decisions are provably identical to the in-memory
    * sequence; the store adds only the bucket-pruned read path, and a
    * wrong append changes batch B's rows — so one hash checks write,
    * admit, append, prune, and probe together).
    */
  private def q184(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val path = QueryDefs.tempStoreDir("graft_q184_store")
    IndexStore.write(IndexStore.Lexical,
      Dedup.nearDupIndex(
        docs.filter(col("doc_id") % DeltaMod < DeltaMod - 2),
        "doc_id", "text", n = 3),
      path, width = 32, bandBuckets = 16, idBuckets = 16)
    val batchA = docs.filter(col("doc_id") % DeltaMod === DeltaMod - 2)
    val batchB = docs.filter(col("doc_id") % DeltaMod === DeltaMod - 1)
    val idxA = Dedup.nearDupIndex(batchA, "doc_id", "text", n = 3)
      .localCheckpoint()
    val decA = Dedup.deltaNearDupFromStore(spark, path,
        batchA.select("doc_id"), idxA, "doc_id", threshold = 0.6)
      .localCheckpoint()
    IndexStore.append(spark, IndexStore.Lexical, path, idxA.join(
      decA.filter(col("status") === "new").select(col("doc_id").as("id")),
      "id"))
    val decB = Dedup.deltaNearDupFromStore(spark, path,
      batchB.select("doc_id"),
      Dedup.nearDupIndex(batchB, "doc_id", "text", n = 3).localCheckpoint(),
      "doc_id", threshold = 0.6)
    decA.withColumn("batch", lit("a"))
      .unionByName(decB.withColumn("batch", lit("b")))
      .orderBy("doc_id")
  }

  /** Q177 — the INDEX-MAINTENANCE step of the incremental family graded
    * end-to-end (VERDICT r15 #4): q167 grades ONE batch against a
    * standing index; this grades the two-batch ADMIT-THEN-PROBE
    * sequence the continuous-ingest contract is actually about. Batch A
    * (`doc_id % DeltaMod = DeltaMod-2`) is classified against the
    * corpus index; its `new` rows are ADMITTED — their
    * [[graft.operators.Dedup.nearDupIndex]] rows (already computed for
    * the probe) append to the index, the only maintenance the design
    * requires — and batch B (`% = DeltaMod-1`) probes the GROWN index,
    * so a B doc whose only near-match is an admitted A doc must come
    * back `dup_of_corpus` pointing AT that A doc. Both batches'
    * decisions are emitted (tagged `batch`), so the oracle — exact
    * Jaccard over the same three-way split, with the grown corpus
    * restated as `corpus ∪ {A : new}` — hash-checks admit and probe
    * TOGETHER: a wrong admission changes batch B's rows. Decisions and
    * both batches' index frames are `localCheckpoint`ed exactly as a
    * pipeline persists them between runs; the grown index is their lazy
    * union (checkpointing it re-serialized the whole index again).
    * PlanSpec pins that the final plan re-shingles only batch B's text
    * (one text scan; corpus + batch A enter as materialized RDDs).
    */
  private def q177(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % DeltaMod < DeltaMod - 2)
    val batchA = docs.filter(col("doc_id") % DeltaMod === DeltaMod - 2)
    val batchB = docs.filter(col("doc_id") % DeltaMod === DeltaMod - 1)
    val index0 = Dedup.nearDupIndex(corpus, "doc_id", "text", n = 3)
      .localCheckpoint()
    // batch A's index rows are computed ONCE (checkpointed) and serve
    // both the probe and the admit append — the shared-frame entry
    // point's whole point: an ingest pipeline persists these rows
    // anyway, since the admitted subset IS the index growth
    val idxA = Dedup.nearDupIndex(batchA, "doc_id", "text", n = 3)
      .localCheckpoint()
    val decA = Dedup.deltaNearDupFromIndex(index0,
      batchA.select("doc_id"), idxA, "doc_id", threshold = 0.6)
      .localCheckpoint()
    val admitted = decA.filter(col("status") === "new")
      .select(col("doc_id").as("id"))
    // the grown index is the LAZY union of two checkpointed frames
    // (optimization round 21, guide §1.2): the old eager checkpoint
    // re-serialized the entire grown index one more time, where
    // re-deriving the admitted-join per probe consumer is a bounded
    // in-memory RDD read — no text rescan either way (PlanSpec pins
    // batch B as the only re-shingled text)
    val index1 = index0.unionByName(idxA.join(admitted, "id"))
    val decB = Dedup.deltaNearDup(index1, batchB, "doc_id", "text",
      n = 3, threshold = 0.6)
    decA.withColumn("batch", lit("a"))
      .unionByName(decB.withColumn("batch", lit("b")))
      .orderBy("doc_id")
  }

  private val q177Sql =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
       |              FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
       |           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
       |       FROM toks),
       |d AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
       |c0 AS (SELECT * FROM d WHERE doc_id % $DeltaMod < ${DeltaMod - 2}),
       |ba AS (SELECT * FROM d WHERE doc_id % $DeltaMod = ${DeltaMod - 2}),
       |bb AS (SELECT * FROM d WHERE doc_id % $DeltaMod = ${DeltaMod - 1}),
       |acm AS (SELECT ba.doc_id AS doc_id, min(c0.doc_id) AS ck
       |        FROM ba JOIN c0 ON len(list_intersect(ba.s, c0.s))::DOUBLE
       |            / (len(ba.s) + len(c0.s) - len(list_intersect(ba.s, c0.s)))
       |            >= 0.6
       |        GROUP BY 1),
       |abm AS (SELECT y.doc_id AS doc_id, min(x.doc_id) AS bk
       |        FROM ba x JOIN ba y ON x.doc_id < y.doc_id
       |             AND len(list_intersect(x.s, y.s))::DOUBLE
       |               / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))
       |               >= 0.6
       |        GROUP BY 1),
       |adec AS (SELECT doc.doc_id,
       |                CASE WHEN acm.ck IS NOT NULL THEN 'dup_of_corpus'
       |                     WHEN abm.bk IS NOT NULL THEN 'dup_in_batch'
       |                     ELSE 'new' END AS status,
       |                CASE WHEN acm.ck IS NOT NULL THEN acm.ck
       |                     ELSE abm.bk END AS dup_of
       |         FROM documents doc LEFT JOIN acm USING (doc_id)
       |         LEFT JOIN abm USING (doc_id)
       |         WHERE doc.doc_id % $DeltaMod = ${DeltaMod - 2}),
       |c1 AS (SELECT * FROM c0
       |       UNION ALL
       |       SELECT d.doc_id, d.s FROM d
       |       JOIN adec ON d.doc_id = adec.doc_id AND adec.status = 'new'),
       |bcm AS (SELECT bb.doc_id AS doc_id, min(c1.doc_id) AS ck
       |        FROM bb JOIN c1 ON len(list_intersect(bb.s, c1.s))::DOUBLE
       |            / (len(bb.s) + len(c1.s) - len(list_intersect(bb.s, c1.s)))
       |            >= 0.6
       |        GROUP BY 1),
       |bbm AS (SELECT y.doc_id AS doc_id, min(x.doc_id) AS bk
       |        FROM bb x JOIN bb y ON x.doc_id < y.doc_id
       |             AND len(list_intersect(x.s, y.s))::DOUBLE
       |               / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))
       |               >= 0.6
       |        GROUP BY 1),
       |bdec AS (SELECT doc.doc_id,
       |                CASE WHEN bcm.ck IS NOT NULL THEN 'dup_of_corpus'
       |                     WHEN bbm.bk IS NOT NULL THEN 'dup_in_batch'
       |                     ELSE 'new' END AS status,
       |                CASE WHEN bcm.ck IS NOT NULL THEN bcm.ck
       |                     ELSE bbm.bk END AS dup_of
       |         FROM documents doc LEFT JOIN bcm USING (doc_id)
       |         LEFT JOIN bbm USING (doc_id)
       |         WHERE doc.doc_id % $DeltaMod = ${DeltaMod - 1})
       |SELECT doc_id, status, dup_of, 'a' AS batch FROM adec
       |UNION ALL
       |SELECT doc_id, status, dup_of, 'b' AS batch FROM bdec
       |ORDER BY doc_id""".stripMargin

  /** Q189 — the JOB-LEVEL incremental curation step graded end-to-end
    * (VERDICT r18 #1): [[graft.pipelines.CurationJob.incrementalStep]]
    * — the composed per-batch entry point a continuous-ingest pipeline
    * runs — executed as the two-batch sequence through one PERSISTED
    * store: bootstrap the store from the standing corpus, run the step
    * on batch A (curation pass → store-backed delta near-dup of the
    * quality survivors → admit the `new` rows), then run it AGAIN on
    * batch B against the store batch A just grew. The oracle restates
    * every stage brute-force (the q177/q184 convention): the q85 pass
    * CTEs give `keep`/`reasons` per batch doc; exact 3-gram Jaccard
    * over the SURVIVORS gives the delta statuses — batch A against the
    * raw standing corpus, batch B against `corpus ∪ {A survivors :
    * new}`; `curated = keep ∧ status='new'`. One hash therefore checks
    * the pass, the stage order (quality-rejected docs never reach
    * dedup: null status), the admit-exactly-the-new-survivors append,
    * and the grown-store probe TOGETHER — a wrong admission changes
    * batch B's rows. Quality-surviving docs with no shingle classify
    * `new` and append nothing (the pinned short-doc contract — the
    * oracle's survivor legs read shingle-bearing docs only, so such
    * docs fall through its LEFT JOINs to `new` identically).
    */
  private def q189(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bench = docs.filter(col("doc_id") < BenchCut)
    val nonBench = docs.filter(col("doc_id") >= BenchCut)
    val path = QueryDefs.tempStoreDir("graft_q189_store")
    IndexStore.write(IndexStore.Lexical,
      Dedup.nearDupIndex(
        nonBench.filter(col("doc_id") % DeltaMod < DeltaMod - 2),
        "doc_id", "text", n = 3),
      path, width = 32, bandBuckets = 16, idBuckets = 16)
    def step(m: Int): DataFrame =
      graft.pipelines.CurationJob.incrementalStep(spark, path,
        nonBench.filter(col("doc_id") % DeltaMod === m)
          .select("doc_id", "text"),
        bench)
    val decA = step(DeltaMod - 2)
    val decB = step(DeltaMod - 1)
    decA.withColumn("batch", lit("a"))
      .unionByName(decB.withColumn("batch", lit("b")))
      .orderBy("doc_id")
  }

  /** q189's brute-force restatement, parameterized by an optional
    * retention predicate over the standing set batch B probes (`c1` =
    * corpus ∪ batch A's admits): q189/q190 pass the empty cut, q192
    * passes the compaction cut its managed store applied mid-sequence.
    */
  private def q189SqlRetained(c1Cut: String) =
    s"""WITH bat AS (SELECT doc_id, text FROM documents
       |             WHERE doc_id >= $BenchCut
       |               AND doc_id % $DeltaMod >= ${DeltaMod - 2}),
       |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS g FROM bat),
       |wcq AS (SELECT doc_id, g, count(*) AS c FROM w GROUP BY 1, 2),
       |ws AS (SELECT doc_id, sum(c)::BIGINT AS n, count(*) AS d, max(c) AS tp
       |       FROM wcq GROUP BY 1),
       |dd AS (SELECT doc_id, string_split(text, ' ') AS toks FROM bat),
       |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |           i -> concat_ws(' ', toks[i], toks[i+1]))) AS g FROM dd),
       |bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
       |bgs AS (SELECT doc_id, sum(c)::BIGINT AS n, count(*) AS d, max(c) AS tp
       |        FROM bgc GROUP BY 1),
       |sig AS (SELECT ws.doc_id, ws.n AS n_tokens,
       |               round(ws.d / ws.n, 6) AS distinct_ratio,
       |               round(ws.tp / ws.n, 6) AS top_word_frac,
       |               round(1.0 - bgs.d / bgs.n, 6) AS dup_bigram_frac
       |        FROM ws JOIN bgs USING (doc_id)),
       |ad AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g5 AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |           range(1, len(toks) - 3),
       |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
       |                          toks[i+3], toks[i+4])))) AS g
       |       FROM ad),
       |bset AS (SELECT DISTINCT g FROM g5 WHERE doc_id < $BenchCut),
       |ov AS (SELECT g5.doc_id, count(*)::BIGINT AS n_overlap
       |       FROM g5 JOIN bset USING (g)
       |       WHERE g5.doc_id >= $BenchCut
       |         AND g5.doc_id % $DeltaMod >= ${DeltaMod - 2}
       |       GROUP BY 1),
       |ver AS MATERIALIZED (SELECT sig.doc_id,
       |        (CASE WHEN sig.n_tokens < 20 OR sig.distinct_ratio < 0.35
       |                   OR sig.top_word_frac > 0.15
       |                   OR sig.dup_bigram_frac > 0.09
       |                   OR coalesce(ov.n_overlap, 0) > 0
       |              THEN 0 ELSE 1 END)::BIGINT AS keep,
       |        concat_ws(',',
       |          CASE WHEN sig.n_tokens < 20 THEN 'too_short' END,
       |          CASE WHEN sig.distinct_ratio < 0.35 THEN 'low_diversity' END,
       |          CASE WHEN sig.top_word_frac > 0.15 THEN 'top_heavy' END,
       |          CASE WHEN sig.dup_bigram_frac > 0.09 THEN 'dup_bigrams' END,
       |          CASE WHEN coalesce(ov.n_overlap, 0) > 0
       |               THEN 'contaminated' END) AS reasons
       |        FROM sig LEFT JOIN ov USING (doc_id)),
       |toks3 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
       |           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
       |       FROM toks3),
       |d AS MATERIALIZED (SELECT doc_id, s FROM sh WHERE len(s) > 0),
       |c0 AS (SELECT * FROM d WHERE doc_id >= $BenchCut
       |       AND doc_id % $DeltaMod < ${DeltaMod - 2}),
       |ka AS MATERIALIZED (SELECT d.doc_id, d.s FROM d JOIN ver USING (doc_id)
       |      WHERE d.doc_id % $DeltaMod = ${DeltaMod - 2} AND ver.keep = 1),
       |kb AS MATERIALIZED (SELECT d.doc_id, d.s FROM d JOIN ver USING (doc_id)
       |      WHERE d.doc_id % $DeltaMod = ${DeltaMod - 1} AND ver.keep = 1),
       |acm AS (SELECT ka.doc_id AS doc_id, min(c0.doc_id) AS ck
       |        FROM ka JOIN c0 ON len(list_intersect(ka.s, c0.s))::DOUBLE
       |            / (len(ka.s) + len(c0.s) - len(list_intersect(ka.s, c0.s)))
       |            >= 0.6
       |        GROUP BY 1),
       |abm AS (SELECT y.doc_id AS doc_id, min(x.doc_id) AS bk
       |        FROM ka x JOIN ka y ON x.doc_id < y.doc_id
       |             AND len(list_intersect(x.s, y.s))::DOUBLE
       |               / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))
       |               >= 0.6
       |        GROUP BY 1),
       |adec AS MATERIALIZED (SELECT v.doc_id,
       |               CASE WHEN acm.ck IS NOT NULL THEN 'dup_of_corpus'
       |                    WHEN abm.bk IS NOT NULL THEN 'dup_in_batch'
       |                    ELSE 'new' END AS status,
       |               CASE WHEN acm.ck IS NOT NULL THEN acm.ck
       |                    ELSE abm.bk END AS dup_of
       |        FROM ver v LEFT JOIN acm USING (doc_id)
       |        LEFT JOIN abm USING (doc_id)
       |        WHERE v.doc_id % $DeltaMod = ${DeltaMod - 2} AND v.keep = 1),
       |c1 AS (SELECT * FROM (SELECT * FROM c0
       |       UNION ALL
       |       SELECT d.doc_id, d.s FROM d
       |       JOIN adec ON d.doc_id = adec.doc_id AND adec.status = 'new')
       |       $c1Cut),
       |bcm AS (SELECT kb.doc_id AS doc_id, min(c1.doc_id) AS ck
       |        FROM kb JOIN c1 ON len(list_intersect(kb.s, c1.s))::DOUBLE
       |            / (len(kb.s) + len(c1.s) - len(list_intersect(kb.s, c1.s)))
       |            >= 0.6
       |        GROUP BY 1),
       |bbm AS (SELECT y.doc_id AS doc_id, min(x.doc_id) AS bk
       |        FROM kb x JOIN kb y ON x.doc_id < y.doc_id
       |             AND len(list_intersect(x.s, y.s))::DOUBLE
       |               / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))
       |               >= 0.6
       |        GROUP BY 1),
       |bdec AS (SELECT v.doc_id,
       |               CASE WHEN bcm.ck IS NOT NULL THEN 'dup_of_corpus'
       |                    WHEN bbm.bk IS NOT NULL THEN 'dup_in_batch'
       |                    ELSE 'new' END AS status,
       |               CASE WHEN bcm.ck IS NOT NULL THEN bcm.ck
       |                    ELSE bbm.bk END AS dup_of
       |        FROM ver v LEFT JOIN bcm USING (doc_id)
       |        LEFT JOIN bbm USING (doc_id)
       |        WHERE v.doc_id % $DeltaMod = ${DeltaMod - 1} AND v.keep = 1)
       |SELECT v.doc_id, v.keep, v.reasons, dec.status, dec.dup_of,
       |       (CASE WHEN v.keep = 1 AND dec.status = 'new'
       |             THEN 1 ELSE 0 END)::BIGINT AS curated,
       |       CASE WHEN v.doc_id % $DeltaMod = ${DeltaMod - 2}
       |            THEN 'a' ELSE 'b' END AS batch
       |FROM ver v
       |LEFT JOIN (SELECT * FROM adec UNION ALL SELECT * FROM bdec) dec
       |USING (doc_id)
       |ORDER BY v.doc_id""".stripMargin

  private val q189Sql = q189SqlRetained("")

  /** Q190 — CONTINUOUS INGEST graded end-to-end (VERDICT r19 #4):
    * [[graft.streaming.CurationStream]] replays q189's exact two-batch
    * sequence through a REAL Structured Streaming query (MemoryStream →
    * `foreachBatch` → `incrementalStep(idempotent = true)` →
    * dynamic-partition-overwrite decision sink) and returns the landed
    * decision TABLE — the oracle is q189's brute-force restatement
    * verbatim, so one hash pins that the streaming wrapper writes
    * EXACTLY the rows the batch job computes: the curation pass, the
    * store bootstrap, batch A's admit visible to batch B's probe, the
    * idempotent append variant (fresh store, so it must equal the
    * plain append), and the `batch_id`-keyed partition layout. The
    * batch_id → batch letter mapping is asserted, not assumed: the two
    * feeds must land as micro-batches 0 and 1 or the query fails
    * loudly.
    */
  private def q190(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val bench = docs.filter(col("doc_id") < BenchCut)
    val nonBench = docs.filter(col("doc_id") >= BenchCut)
    val path = QueryDefs.tempStoreDir("graft_q190_store")
    IndexStore.write(IndexStore.Lexical,
      Dedup.nearDupIndex(
        nonBench.filter(col("doc_id") % DeltaMod < DeltaMod - 2),
        "doc_id", "text", n = 3),
      path, width = 32, bandBuckets = 16, idBuckets = 16)
    val outDir = QueryDefs.tempStoreDir("graft_q190_out")
    val ckpt = QueryDefs.tempStoreDir("graft_q190_ckpt")
    implicit val ctx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val stream = graft.streaming.CurationStream.start(
      in.toDF().toDF("doc_id", "text"), path, bench, outDir, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      def feed(m: Int): Unit = {
        in.addData(nonBench.filter(col("doc_id") % DeltaMod === m)
          .select("doc_id", "text").as[(Long, String)].collect().toSeq)
        stream.processAllAvailable()
      }
      feed(DeltaMod - 2)
      feed(DeltaMod - 1)
    } finally stream.stop()
    val decisions = spark.read.parquet(s"$outDir/decisions")
    val batchIds = decisions.select("batch_id").distinct()
      .collect().map(_.get(0).toString.toLong).sorted.toSeq
    require(batchIds == Seq(0L, 1L),
      s"expected exactly micro-batches 0 and 1, got $batchIds")
    decisions
      .select(col("doc_id"), col("keep"), col("reasons"), col("status"),
        col("dup_of"), col("curated"),
        when(col("batch_id") === 0, lit("a")).otherwise(lit("b"))
          .as("batch"))
      .orderBy("doc_id")
  }

  /** Q191 — the SHORT-DOC EXACT stage composed into the job step
    * (VERDICT r19 #3): q189's two-batch sequence over a MIXED corpus —
    * every `doc_id % 3 = 0` doc truncated to its first two tokens
    * (shingle-less under n = 3), the rest full text — with a rule
    * table relaxed below the shingle width and
    * `incrementalStep(shortDocExact = true)`. Shingle-bearing docs ride
    * the persisted Jaccard store exactly as in q189; shingle-less
    * quality survivors classify through the `exact/` fingerprint side
    * table (bootstrapped from the standing shorts), and batch A's
    * admitted short fingerprints must be visible to batch B — the
    * seam q189 pins as `new`-forever is CLOSED here, and one hash
    * checks the routing split, both probe families, both admit paths,
    * and the merged decision output together. The oracle restates the
    * exact leg as normalized-text equality (fingerprint = md5 of the
    * normalized text, and grouping by `md5(x)` ≡ grouping by `x`).
    */
  private def q191(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bench = docs.filter(col("doc_id") < BenchCut)
    val mixed = docs.filter(col("doc_id") >= BenchCut)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat_ws(" ", slice(split(col("text"), " "), 1, 2)))
          .otherwise(col("text")).as("text"))
    val standing = mixed.filter(col("doc_id") % DeltaMod < DeltaMod - 2)
    val path = QueryDefs.tempStoreDir("graft_q191_store")
    IndexStore.write(IndexStore.Lexical,
      Dedup.nearDupIndex(standing, "doc_id", "text", n = 3),
      path, width = 32, bandBuckets = 16, idBuckets = 16)
    Dedup.writeFingerprintStore(spark, path,
      standing.filter(size(TextFns.shingles(col("text"), 3)) === 0)
        .select(col("doc_id").as("id"),
          TextFns.fingerprint(col("text")).as("fp")))
    val rules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "too_short" -> (col("n_tokens") < 2),
      "low_diversity" -> (col("distinct_ratio") < 0.35),
      "dup_bigrams" -> (col("dup_bigram_frac") > 0.09))
    def step(m: Int): DataFrame =
      graft.pipelines.CurationJob.incrementalStep(spark, path,
        mixed.filter(col("doc_id") % DeltaMod === m)
          .select("doc_id", "text"),
        bench, rules, shortDocExact = true)
    val decA = step(DeltaMod - 2)
    val decB = step(DeltaMod - 1)
    decA.withColumn("batch", lit("a"))
      .unionByName(decB.withColumn("batch", lit("b")))
      .orderBy("doc_id")
  }

  private val q191Sql =
    s"""WITH mix AS (SELECT doc_id,
       |             CASE WHEN doc_id % 3 = 0
       |                  THEN array_to_string(string_split(text, ' ')[1:2], ' ')
       |                  ELSE text END AS text
       |             FROM documents WHERE doc_id >= $BenchCut),
       |bat AS (SELECT doc_id, text FROM mix
       |        WHERE doc_id % $DeltaMod >= ${DeltaMod - 2}),
       |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS g FROM bat),
       |wcq AS (SELECT doc_id, g, count(*) AS c FROM w GROUP BY 1, 2),
       |ws AS (SELECT doc_id, sum(c)::BIGINT AS n, count(*) AS d, max(c) AS tp
       |       FROM wcq GROUP BY 1),
       |dd AS (SELECT doc_id, string_split(text, ' ') AS toks FROM bat),
       |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |           i -> concat_ws(' ', toks[i], toks[i+1]))) AS g FROM dd),
       |bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
       |bgs AS (SELECT doc_id, sum(c)::BIGINT AS n, count(*) AS d
       |        FROM bgc GROUP BY 1),
       |sig AS (SELECT ws.doc_id, ws.n AS n_tokens,
       |               round(ws.d / ws.n, 6) AS distinct_ratio,
       |               round(1.0 - bgs.d / bgs.n, 6) AS dup_bigram_frac
       |        FROM ws JOIN bgs USING (doc_id)),
       |bad AS (SELECT doc_id, string_split(text, ' ') AS toks
       |        FROM documents WHERE doc_id < $BenchCut),
       |bg5 AS (SELECT unnest(list_distinct(list_transform(
       |            range(1, len(toks) - 3),
       |            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
       |                           toks[i+3], toks[i+4])))) AS g FROM bad),
       |bset AS (SELECT DISTINCT g FROM bg5),
       |md AS (SELECT doc_id, string_split(text, ' ') AS toks FROM bat),
       |g5 AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |           range(1, len(toks) - 3),
       |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
       |                          toks[i+3], toks[i+4])))) AS g FROM md),
       |ov AS (SELECT g5.doc_id, count(*)::BIGINT AS n_overlap
       |       FROM g5 JOIN bset USING (g) GROUP BY 1),
       |ver AS MATERIALIZED (SELECT sig.doc_id,
       |        (CASE WHEN sig.n_tokens < 2 OR sig.distinct_ratio < 0.35
       |                   OR sig.dup_bigram_frac > 0.09
       |                   OR coalesce(ov.n_overlap, 0) > 0
       |              THEN 0 ELSE 1 END)::BIGINT AS keep,
       |        concat_ws(',',
       |          CASE WHEN sig.n_tokens < 2 THEN 'too_short' END,
       |          CASE WHEN sig.distinct_ratio < 0.35 THEN 'low_diversity' END,
       |          CASE WHEN sig.dup_bigram_frac > 0.09 THEN 'dup_bigrams' END,
       |          CASE WHEN coalesce(ov.n_overlap, 0) > 0
       |               THEN 'contaminated' END) AS reasons
       |        FROM sig LEFT JOIN ov USING (doc_id)),
       |t3 AS (SELECT doc_id, string_split(text, ' ') AS t FROM mix),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
       |           i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s
       |       FROM t3),
       |d AS MATERIALIZED (SELECT doc_id, s FROM sh WHERE len(s) > 0),
       |c0 AS (SELECT * FROM d WHERE doc_id % $DeltaMod < ${DeltaMod - 2}),
       |ka AS MATERIALIZED (SELECT d.doc_id, d.s FROM d JOIN ver USING (doc_id)
       |      WHERE d.doc_id % $DeltaMod = ${DeltaMod - 2} AND ver.keep = 1),
       |kb AS MATERIALIZED (SELECT d.doc_id, d.s FROM d JOIN ver USING (doc_id)
       |      WHERE d.doc_id % $DeltaMod = ${DeltaMod - 1} AND ver.keep = 1),
       |acm AS (SELECT ka.doc_id AS doc_id, min(c0.doc_id) AS ck
       |        FROM ka JOIN c0 ON len(list_intersect(ka.s, c0.s))::DOUBLE
       |            / (len(ka.s) + len(c0.s) - len(list_intersect(ka.s, c0.s)))
       |            >= 0.6
       |        GROUP BY 1),
       |abm AS (SELECT y.doc_id AS doc_id, min(x.doc_id) AS bk
       |        FROM ka x JOIN ka y ON x.doc_id < y.doc_id
       |             AND len(list_intersect(x.s, y.s))::DOUBLE
       |               / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))
       |               >= 0.6
       |        GROUP BY 1),
       |adec AS MATERIALIZED (SELECT ka.doc_id,
       |               CASE WHEN acm.ck IS NOT NULL THEN 'dup_of_corpus'
       |                    WHEN abm.bk IS NOT NULL THEN 'dup_in_batch'
       |                    ELSE 'new' END AS status,
       |               CASE WHEN acm.ck IS NOT NULL THEN acm.ck
       |                    ELSE abm.bk END AS dup_of
       |        FROM ka LEFT JOIN acm USING (doc_id)
       |        LEFT JOIN abm USING (doc_id)),
       |c1 AS (SELECT * FROM c0
       |       UNION ALL
       |       SELECT d.doc_id, d.s FROM d
       |       JOIN adec ON d.doc_id = adec.doc_id AND adec.status = 'new'),
       |bcm AS (SELECT kb.doc_id AS doc_id, min(c1.doc_id) AS ck
       |        FROM kb JOIN c1 ON len(list_intersect(kb.s, c1.s))::DOUBLE
       |            / (len(kb.s) + len(c1.s) - len(list_intersect(kb.s, c1.s)))
       |            >= 0.6
       |        GROUP BY 1),
       |bbm AS (SELECT y.doc_id AS doc_id, min(x.doc_id) AS bk
       |        FROM kb x JOIN kb y ON x.doc_id < y.doc_id
       |             AND len(list_intersect(x.s, y.s))::DOUBLE
       |               / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))
       |               >= 0.6
       |        GROUP BY 1),
       |bdec AS MATERIALIZED (SELECT kb.doc_id,
       |               CASE WHEN bcm.ck IS NOT NULL THEN 'dup_of_corpus'
       |                    WHEN bbm.bk IS NOT NULL THEN 'dup_in_batch'
       |                    ELSE 'new' END AS status,
       |               CASE WHEN bcm.ck IS NOT NULL THEN bcm.ck
       |                    ELSE bbm.bk END AS dup_of
       |        FROM kb LEFT JOIN bcm USING (doc_id)
       |        LEFT JOIN bbm USING (doc_id)),
       |fpm AS (SELECT m.doc_id,
       |               trim(regexp_replace(lower(m.text), '\\s+', ' ', 'g'))
       |                 AS fp
       |        FROM mix m JOIN sh USING (doc_id) WHERE len(s) = 0),
       |ex0 AS (SELECT fp, min(doc_id) AS ck FROM fpm
       |        WHERE doc_id % $DeltaMod < ${DeltaMod - 2} GROUP BY 1),
       |kas AS (SELECT f.doc_id, f.fp FROM fpm f JOIN ver USING (doc_id)
       |        WHERE f.doc_id % $DeltaMod = ${DeltaMod - 2} AND ver.keep = 1),
       |kbs AS (SELECT f.doc_id, f.fp FROM fpm f JOIN ver USING (doc_id)
       |        WHERE f.doc_id % $DeltaMod = ${DeltaMod - 1} AND ver.keep = 1),
       |aex AS MATERIALIZED (SELECT doc_id,
       |        CASE WHEN ck IS NOT NULL THEN 'dup_of_corpus'
       |             WHEN doc_id = bk THEN 'new'
       |             ELSE 'dup_in_batch' END AS status,
       |        CASE WHEN ck IS NOT NULL THEN ck
       |             WHEN doc_id != bk THEN bk END AS dup_of
       |        FROM (SELECT k.doc_id, e.ck,
       |                     min(k.doc_id) OVER (PARTITION BY k.fp) AS bk
       |              FROM kas k LEFT JOIN ex0 e USING (fp))),
       |ex1 AS (SELECT * FROM ex0
       |        UNION ALL
       |        SELECT k.fp, k.doc_id AS ck FROM kas k
       |        JOIN aex ON k.doc_id = aex.doc_id AND aex.status = 'new'),
       |bex AS (SELECT doc_id,
       |        CASE WHEN ck IS NOT NULL THEN 'dup_of_corpus'
       |             WHEN doc_id = bk THEN 'new'
       |             ELSE 'dup_in_batch' END AS status,
       |        CASE WHEN ck IS NOT NULL THEN ck
       |             WHEN doc_id != bk THEN bk END AS dup_of
       |        FROM (SELECT k.doc_id, e.ck,
       |                     min(k.doc_id) OVER (PARTITION BY k.fp) AS bk
       |              FROM kbs k LEFT JOIN ex1 e USING (fp)))
       |SELECT v.doc_id, v.keep, v.reasons, dec.status, dec.dup_of,
       |       (CASE WHEN v.keep = 1 AND dec.status = 'new'
       |             THEN 1 ELSE 0 END)::BIGINT AS curated,
       |       CASE WHEN v.doc_id % $DeltaMod = ${DeltaMod - 2}
       |            THEN 'a' ELSE 'b' END AS batch
       |FROM ver v
       |LEFT JOIN (SELECT * FROM adec UNION ALL SELECT * FROM bdec
       |           UNION ALL SELECT * FROM aex UNION ALL SELECT * FROM bex) dec
       |USING (doc_id)
       |ORDER BY v.doc_id""".stripMargin

  /** Q192 — MANAGED store maintenance graded end-to-end: q189's
    * two-batch sequence against a MANAGED root
    * ([[graft.operators.Dedup.initManagedNearDupIndexStore]]) with
    * BOTH maintenance operations run between the batches — a
    * retention compaction
    * ([[graft.operators.Dedup.compactManagedStore]]: keep only
    * `doc_id % 7 ≠ 0`, which also cuts batch A admits on the 7-grid)
    * and a bucket-count reband
    * ([[graft.operators.IndexStore.rebandManaged]]: 16/16 → 8/8 with
    * bands HELD at 32, so the layout changes but the candidate set is
    * identical by construction). Batch B therefore probes the THIRD
    * immutable store version through the atomic `CURRENT` pointer,
    * and the oracle is q189's brute-force restatement with the same
    * retention cut applied to the standing set batch B sees
    * ([[q189SqlRetained]]) — one hash checks the managed init, batch
    * A's admit landing in v1, both green builds carrying it (minus
    * the cut), pointer resolution inside every store entry point the
    * step uses, and that the cut (and nothing else) moved batch B's
    * answer. Complements StreamingSpec's LIVE leg (which grades the
    * build-concurrent race this offline sequence cannot have).
    */
  private def q192(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bench = docs.filter(col("doc_id") < BenchCut)
    val nonBench = docs.filter(col("doc_id") >= BenchCut)
    val root = QueryDefs.tempStoreDir("graft_q192_store")
    Dedup.initManagedNearDupIndexStore(spark, root,
      Dedup.nearDupIndex(
        nonBench.filter(col("doc_id") % DeltaMod < DeltaMod - 2),
        "doc_id", "text", n = 3),
      bands = 32, bandBuckets = 16, idBuckets = 16)
    def step(m: Int): DataFrame =
      graft.pipelines.CurationJob.incrementalStep(spark, root,
        nonBench.filter(col("doc_id") % DeltaMod === m)
          .select("doc_id", "text"),
        bench)
    val decA = step(DeltaMod - 2)
    Dedup.compactManagedStore(spark, root,
      docs.filter(col("doc_id") % 7 =!= 0).select("doc_id"))
    IndexStore.rebandManaged(spark, IndexStore.Lexical, root, width = 32,
      bandBuckets = 8, idBuckets = 8)
    val decB = step(DeltaMod - 1)
    decA.withColumn("batch", lit("a"))
      .unionByName(decB.withColumn("batch", lit("b")))
      .orderBy("doc_id")
  }

  private val q192Sql = q189SqlRetained("WHERE doc_id % 7 != 0")

  // ------------------------------------------------ unigram-LM tokenizer

  private[queries] val UniL = 4
  private[queries] val UniSeed = 256
  private[queries] val UniTarget = 64
  private[queries] val UniRounds = 2

  /** q171's encode-input bound: caps the declarative sampled encoder's
    * measured-superlinear token×edge plan to a FIXED doc sample at
    * every SF (the oracle restates the same bound). 250 — half the
    * graded sf0.01 corpus — was chosen by measurement, not taste: the
    * plan's cost at this scale is DAG-depth floor (~10 sequential
    * shuffle stages ≈ 3.1 s for 500 docs at sf0.001 AND sf0.1, i.e.
    * volume-independent), so the bound must cut row volume well below
    * the point where the stage floor dominates to land the bench leg
    * under the r15 verdict's 3 s bar.
    */
  private[queries] val UniSampleCap = 250L

  /** Shared base CTEs for the unigram-LM oracle: distinct-word census,
    * the vocabulary-independent substring position frame, the seed
    * census (all chars + top-$UniSeed multis) and its renormalized v0.
    */
  private lazy val uniBaseCtes =
    s"""wds AS (SELECT w, count(*)::BIGINT AS wc FROM (
       |          SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |        GROUP BY 1),
       |wd AS MATERIALIZED (SELECT w, wc, length(w)::INT AS n FROM wds
       |                    WHERE length(w) >= 1),
       |posx AS MATERIALIZED (SELECT w, wc, n,
       |    struct_extract(c, 'j') AS j, struct_extract(c, 'i') AS i,
       |    struct_extract(c, 'piece') AS piece
       |  FROM (SELECT w, wc, n,
       |          unnest(flatten(list_transform(range(0, n), j ->
       |            list_filter(list_transform(range(1, ${UniL + 1}), l ->
       |                CASE WHEN j + l <= n
       |                     THEN struct_pack(j := j::INT, i := (j + l)::INT,
       |                            piece := substr(w, (j + 1)::INT, l::INT))
       |                END),
       |              x -> x IS NOT NULL)))) AS c
       |        FROM wd)),
       |sc AS MATERIALIZED (SELECT piece, sum(wc)::BIGINT AS cnt
       |                    FROM posx GROUP BY 1),
       |seed AS MATERIALIZED (
       |  SELECT piece, cnt FROM sc WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt,
       |           row_number() OVER (ORDER BY cnt DESC, piece) AS rn
       |    FROM sc WHERE length(piece) > 1) q
       |  WHERE q.rn <= $UniSeed),
       |v0 AS MATERIALIZED (SELECT piece,
       |    greatest(round(cnt / (SELECT sum(cnt) FROM seed), 6), 1e-6) AS p
       |  FROM seed)""".stripMargin

  /** One EM round of the unigram-LM oracle, fully unrolled (the
    * [[graft.operators.Curation.unigramLmTrain]] loop restated): the
    * lattice join, the α/β left folds (list_reduce with the prepended
    * initial accumulator; β entries carry RELATIVE offsets so no lambda
    * captures an outer column), the round-6 M-step, the ¾-shrink prune
    * and the renormalized vocabulary.
    */
  private def uniRound(r: Int): String = {
    val pv = s"v${r - 1}"
    s"""cand$r AS MATERIALIZED (
       |  SELECT p.w, p.wc, p.n, p.j, p.i, p.piece, v.p
       |  FROM posx p JOIN $pv v USING (piece)),
       |ends$r AS (SELECT w, i, flatten(list([j::DOUBLE, p] ORDER BY j)) AS enc
       |           FROM cand$r GROUP BY 1, 2),
       |lat$r AS (SELECT w, list(enc ORDER BY i) AS lat
       |          FROM ends$r GROUP BY 1),
       |st$r AS (SELECT w, j,
       |             flatten(list([(i - j)::DOUBLE, p] ORDER BY i)) AS enc
       |         FROM cand$r GROUP BY 1, 2),
       |blat$r AS (SELECT w, list(enc ORDER BY j DESC) AS blat
       |           FROM st$r GROUP BY 1),
       |ab$r AS MATERIALIZED (SELECT l.w, wd.n,
       |    list_reduce(list_prepend([1.0]::DOUBLE[], l.lat), (acc, x) ->
       |      list_append(acc, list_reduce(list_prepend(0.0,
       |        list_transform(range(0, len(x) // 2),
       |          k -> acc[(x[2 * k + 1])::INT + 1] * x[2 * k + 2])),
       |        (s, t) -> s + t))) AS alphas,
       |    list_reduce(list_prepend([1.0]::DOUBLE[], b.blat), (acc, x) ->
       |      list_append(acc, list_reduce(list_prepend(0.0,
       |        list_transform(range(0, len(x) // 2),
       |          k -> x[2 * k + 2] *
       |               acc[len(acc) - (x[2 * k + 1])::INT + 1])),
       |        (s, t) -> s + t))) AS betas
       |  FROM lat$r l JOIN blat$r b USING (w) JOIN wd USING (w)),
       |em$r AS MATERIALIZED (SELECT c.piece,
       |    round(sum(c.wc * a.alphas[c.j + 1] * c.p *
       |              a.betas[a.n - c.i + 1] / a.alphas[a.n + 1]), 6) AS cnt
       |  FROM cand$r c JOIN ab$r a USING (w) GROUP BY 1),
       |keep$r AS MATERIALIZED (
       |  SELECT piece, cnt FROM em$r WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt,
       |           row_number() OVER (ORDER BY cnt DESC, piece) AS rn
       |    FROM em$r WHERE length(piece) > 1) q
       |  WHERE q.rn <= greatest($UniTarget,
       |    ((SELECT count(*) FROM $pv WHERE length(piece) > 1) * 3) // 4)),
       |v$r AS MATERIALIZED (SELECT piece,
       |    greatest(round(cnt / (SELECT sum(cnt) FROM keep$r), 6), 1e-6) AS p
       |  FROM keep$r)""".stripMargin
  }

  /** Q168 — the UNIGRAM-LM (SentencePiece) tokenizer trainer (see
    * [[graft.operators.Curation.unigramLmTrain]]): seed census → two
    * full EM rounds (exact forward/backward posterior counts over every
    * word's segmentation lattice, closed-form M-step) → ¾-shrink prune
    * → renormalize. Output is the trained END-STATE vocabulary
    * `(piece, cnt, prob)`, so a wrong α anywhere, a wrong expected
    * count, or a wrong prune decision in EITHER round changes the
    * graded frame — the oracle unrolls both rounds as materialized CTE
    * chains with the same strict left folds.
    */
  private def q168(spark: SparkSession, dir: String): DataFrame =
    SharedFrames.unigramVocab(spark, dir)
      .orderBy("piece")

  private lazy val q168Sql =
    s"""WITH $uniBaseCtes,
       |${uniRound(1)},
       |${uniRound(2)}
       |SELECT k.piece, k.cnt, v.p AS prob
       |FROM keep$UniRounds k JOIN v$UniRounds v USING (piece)
       |ORDER BY piece""".stripMargin

  /** The VITERBI segmentation CTE chain under the trained v$UniRounds
    * vocabulary, shared by q169/q170: the max/argmax fold (flat
    * `[score, backpointer]` accumulator — candidates in j-ascending
    * order, strict > keeping the first = longest piece on ties), then
    * the backtrace as a RECURSIVE-CTE walk over the exploded
    * backpointer rows (`bp`) — NOT a fold: a `list_reduce` lambda that
    * indexes the outer `vit` column is the known version-fragile DuckDB
    * construct (measured NONDETERMINISTIC across runs on duckdb 1.0.0 —
    * the same capture hazard the β lattice's relative offsets avoid),
    * while the chain walk is plain joins with no lambda captures at
    * all. The walk is depth ≤ word length and each (w, pos>0) step IS
    * one emitted piece, so `sp` assembles symbols straight from the
    * visited edges.
    */
  private lazy val uniSegCtes =
    s"""cand3 AS (SELECT p.w, p.j, p.i, p.piece, v.p
       |          FROM posx p JOIN v$UniRounds v USING (piece)),
       |ends3 AS (SELECT w, i, flatten(list([j::DOUBLE, p] ORDER BY j)) AS enc
       |          FROM cand3 GROUP BY 1, 2),
       |lat3 AS (SELECT w, list(enc ORDER BY i) AS lat FROM ends3 GROUP BY 1),
       |vit AS MATERIALIZED (SELECT l.w, wd.n,
       |    list_reduce(list_prepend([1.0, -1.0]::DOUBLE[], l.lat), (acc, x) ->
       |      list_concat(acc, list_reduce(list_prepend([-1.0, -1.0]::DOUBLE[],
       |        list_transform(range(0, len(x) // 2),
       |          k -> [acc[2 * (x[2*k+1])::INT + 1] * x[2*k+2], x[2*k+1]])),
       |        (b, c) -> CASE WHEN c[1] > b[1] THEN c ELSE b END))) AS vit
       |  FROM lat3 l JOIN wd USING (w)),
       |bp AS MATERIALIZED (SELECT w, i, (vit[2 * i + 2])::INT AS b
       |  FROM (SELECT w, n, vit, unnest(range(1, n + 1))::INT AS i FROM vit)),
       |bt AS (SELECT w, n AS pos FROM vit
       |       UNION ALL
       |       SELECT b.w, b.b AS pos
       |       FROM bt JOIN bp b ON bt.w = b.w AND bt.pos = b.i
       |       WHERE bt.pos > 0),
       |sp AS MATERIALIZED (SELECT bt.w,
       |    list(substr(bt.w, b.b + 1, bt.pos - b.b) ORDER BY b.b) AS syms
       |  FROM bt JOIN bp b ON bt.w = b.w AND bt.pos = b.i
       |  WHERE bt.pos > 0 GROUP BY 1)""".stripMargin

  /** Q169 — the unigram-LM ENCODER graded end-to-end (see
    * [[graft.operators.Curation.unigramEncode]]): every document token
    * becomes its VITERBI (max-probability) segmentation under the
    * q168-trained vocabulary, emitted `(doc_id, word_pos, sym_pos,
    * symbol)` — q91's contract for the probabilistic tokenizer. The
    * oracle rides the full two-round training chain, then restates the
    * Viterbi argmax (with its longest-piece tie-break) and the
    * backtrace as folds, so a wrong probability anywhere in training OR
    * a wrong path choice in decoding breaks the hash.
    */
  private def q169(spark: SparkSession, dir: String): DataFrame =
    Curation.unigramEncodeFromSegments(Tables.documents(spark, dir),
        "doc_id", "text", SharedFrames.unigramSegments(spark, dir))
      .orderBy("doc_id", "word_pos", "sym_pos")

  private lazy val q169Sql =
    s"""WITH RECURSIVE $uniBaseCtes,
       |${uniRound(1)},
       |${uniRound(2)},
       |$uniSegCtes,
       |t AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS word_pos,
       |             unnest(toks) AS w
       |      FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |            FROM documents))
       |SELECT t.doc_id, t.word_pos::BIGINT AS word_pos,
       |       generate_subscripts(f.syms, 1)::BIGINT - 1 AS sym_pos,
       |       unnest(f.syms) AS symbol
       |FROM t JOIN sp f USING (w)
       |ORDER BY doc_id, word_pos, sym_pos""".stripMargin

  /** Q170 — fertility / compression per source under the q168-trained
    * unigram-LM (see [[graft.operators.Curation.unigramFertility]]):
    * q121's metric pair over the Viterbi segmentation — the "does this
    * vocabulary serve this slice" report for the probabilistic
    * tokenizer, BPE and unigram now graded on the same evaluation
    * surface.
    */
  private def q170(spark: SparkSession, dir: String): DataFrame =
    Curation.unigramFertilityFromSegments(Tables.documents(spark, dir),
        "source", "text", SharedFrames.unigramSegments(spark, dir))
      .orderBy("source")

  private lazy val q170Sql =
    s"""WITH RECURSIVE $uniBaseCtes,
       |${uniRound(1)},
       |${uniRound(2)},
       |$uniSegCtes,
       |tk AS (SELECT source, unnest(string_split(text, ' ')) AS w
       |       FROM documents)
       |SELECT tk.source, count(*)::BIGINT AS n_words,
       |       sum(len(f.syms))::BIGINT AS n_symbols,
       |       sum(len(f.w))::BIGINT AS n_chars,
       |       round(sum(len(f.syms))::BIGINT / count(*), 6) AS fertility,
       |       round(sum(len(f.w))::BIGINT / sum(len(f.syms))::BIGINT, 6)
       |         AS chars_per_symbol
       |FROM tk JOIN sp f USING (w)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Q174 — the ROWWISE Viterbi encoder (see
    * [[graft.operators.Curation.unigramEncodeRowwiseFromVocab]]):
    * q169's exact output contract — and its exact ORACLE, verbatim —
    * from the codegen'd in-place kernel with the vocabulary as a plan
    * constant instead of the distinct-word lattice + token-stream join.
    * Grading both formulations against one SQL restatement pins the
    * rowwise twin to the fold semantics bit-for-bit (ties, fold order,
    * code-point substrings), the `hashEmbed`/`hashEmbedRowwise`
    * convention.
    */
  private def q174(spark: SparkSession, dir: String): DataFrame =
    Curation.unigramEncodeRowwiseFromVocab(Tables.documents(spark, dir),
        "doc_id", "text", SharedFrames.unigramVocab(spark, dir),
        maxPieceLen = UniL)
      .orderBy("doc_id", "word_pos", "sym_pos")

  /** Q171 — SUBWORD REGULARIZATION: the sampled-segmentation encoder
    * (see [[graft.operators.Curation.unigramSampleEncode]]). Each token
    * occurrence draws its segmentation from the tempered posterior
    * (α = 1/2 → `sqrt(p)` lattice weights — the one correctly-rounded
    * IEEE power) by forward-filter backward-sample with exact-rational
    * hash uniforms, so the draw is a pure function of
    * (doc_id, word_pos, salt). The oracle rides the trained v2
    * vocabulary, recomputes the tempered forward lattice with the same
    * capture-free folds, pivots the ≤ 4 incoming edges per (word, end)
    * onto columns to restate the j-ascending cumulative chain as one
    * left-associated `+` chain, picks each token position's edge by the
    * same `min j : cum ≥ u·α_i` rule, and backtraces with the q169
    * recursive-CTE walk — per token instead of per word.
    *
    * ENCODE INPUT IS BOUNDED to `doc_id < `[[UniSampleCap]] (round-16
    * exposure control): this declarative formulation is the
    * cross-engine SPEC of the sampled encoder, kept graded because it
    * restates the whole forward-filter backward-sample walk in the
    * oracle's own engine — but its token×edge join was measured 19×
    * superlinear at the ×10 decade, so the suite does not pay its
    * unbounded cost at bench SF. The cap covers HALF the graded sf0.01
    * corpus (doc_id 0–249 of 500), so this query grades the spec over
    * a fixed sample, not the full corpus; grading stays consistent
    * because the oracle is bounded identically, and FULL-corpus
    * coverage for the sampled encoder comes from q175's UNBOUNDED
    * grading of the rowwise deployment kernel. At every SF the plan
    * runs over the same fixed 250-doc sample. The
    * vocabulary is still trained on the FULL corpus. The deployment
    * encoder — and the family's measured full-corpus bench leg — is
    * q175's rowwise kernel, graded against the UNBOUNDED restatement.
    */
  private def q171(spark: SparkSession, dir: String): DataFrame =
    Curation.unigramSampleEncodeFromVocab(
        Tables.documents(spark, dir).filter(col("doc_id") < UniSampleCap),
        "doc_id", "text", SharedFrames.unigramVocab(spark, dir),
        maxPieceLen = UniL)
      .orderBy("doc_id", "word_pos", "sym_pos")

  private lazy val q171Sql = uniSampleSqlFor(
    s"WHERE doc_id < $UniSampleCap")

  /** q171/q175's shared oracle body, parameterized by the token-stream
    * bound: q171 (the oracle-shaped spec) grades over the bounded
    * sample; q175 (the rowwise deployment kernel) grades UNBOUNDED —
    * both against the same restatement text otherwise.
    */
  private def uniSampleSqlFor(tsWhere: String): String =
    s"""WITH RECURSIVE $uniBaseCtes,
       |${uniRound(1)},
       |${uniRound(2)},
       |cS AS (SELECT p.w, p.j, p.i, sqrt(v.p) AS p
       |       FROM posx p JOIN v$UniRounds v USING (piece)),
       |endsS AS (SELECT w, i, flatten(list([j::DOUBLE, p] ORDER BY j)) AS enc
       |          FROM cS GROUP BY 1, 2),
       |latS AS (SELECT w, list(enc ORDER BY i) AS lat FROM endsS GROUP BY 1),
       |alS AS MATERIALIZED (SELECT l.w,
       |    list_reduce(list_prepend([1.0]::DOUBLE[], l.lat), (acc, x) ->
       |      list_append(acc, list_reduce(list_prepend(0.0,
       |        list_transform(range(0, len(x) // 2),
       |          k -> acc[(x[2 * k + 1])::INT + 1] * x[2 * k + 2])),
       |        (s, t) -> s + t))) AS alphas
       |  FROM latS l),
       |ecS AS (SELECT c.w, c.i, c.i - c.j AS l,
       |               a.alphas[c.j + 1] * c.p AS cv
       |        FROM cS c JOIN alS a USING (w)),
       |pvS AS (SELECT w, i,
       |          max(CASE WHEN l = 4 THEN cv END) AS c4,
       |          max(CASE WHEN l = 3 THEN cv END) AS c3,
       |          max(CASE WHEN l = 2 THEN cv END) AS c2,
       |          max(CASE WHEN l = 1 THEN cv END) AS c1
       |        FROM ecS GROUP BY 1, 2),
       |cmS AS (SELECT w, i, c4, c3, c2, c1,
       |          0.0 + coalesce(c4, 0.0) AS s4,
       |          0.0 + coalesce(c4, 0.0) + coalesce(c3, 0.0) AS s3,
       |          0.0 + coalesce(c4, 0.0) + coalesce(c3, 0.0)
       |              + coalesce(c2, 0.0) AS s2,
       |          0.0 + coalesce(c4, 0.0) + coalesce(c3, 0.0)
       |              + coalesce(c2, 0.0) + coalesce(c1, 0.0) AS s1
       |        FROM pvS),
       |edS AS MATERIALIZED (
       |  SELECT w, i, i - ls.l AS j, s1 AS ai,
       |         CASE ls.l WHEN 4 THEN s4 WHEN 3 THEN s3
       |                   WHEN 2 THEN s2 ELSE s1 END AS cum
       |  FROM cmS, (VALUES (4), (3), (2), (1)) AS ls(l)
       |  WHERE CASE ls.l WHEN 4 THEN c4 WHEN 3 THEN c3
       |                  WHEN 2 THEN c2 ELSE c1 END IS NOT NULL),
       |tS AS MATERIALIZED (
       |  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS word_pos,
       |         unnest(toks) AS w
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |        FROM documents $tsWhere)),
       |chS AS MATERIALIZED (
       |  SELECT t.doc_id, t.word_pos, t.w, e.i,
       |         min(CASE WHEN e.cum >=
       |               ((('0x' || substr(md5('unisamp:' || t.doc_id::VARCHAR
       |                   || '_' || t.word_pos::VARCHAR
       |                   || '_' || e.i::VARCHAR), 1, 15))::BIGINT::DOUBLE
       |                 + 0.5) / 1.152921504606846976e18) * e.ai
       |             THEN e.j END) AS bj
       |  FROM tS t JOIN edS e ON t.w = e.w
       |  GROUP BY 1, 2, 3, 4),
       |wkS AS (SELECT doc_id, word_pos, w, length(w)::INT AS pos FROM tS
       |        UNION ALL
       |        SELECT c.doc_id, c.word_pos, c.w, c.bj AS pos
       |        FROM wkS JOIN chS c ON wkS.doc_id = c.doc_id
       |          AND wkS.word_pos = c.word_pos AND wkS.pos = c.i
       |        WHERE wkS.pos > 0),
       |syS AS (SELECT wkS.doc_id, wkS.word_pos, wkS.w,
       |               c.bj AS s, wkS.pos AS e
       |        FROM wkS JOIN chS c ON wkS.doc_id = c.doc_id
       |          AND wkS.word_pos = c.word_pos AND wkS.pos = c.i
       |        WHERE wkS.pos > 0)
       |SELECT doc_id, word_pos::BIGINT AS word_pos,
       |       (row_number() OVER (PARTITION BY doc_id, word_pos
       |                           ORDER BY s) - 1)::BIGINT AS sym_pos,
       |       substr(w, s + 1, e - s) AS symbol
       |FROM syS
       |ORDER BY doc_id, word_pos, sym_pos""".stripMargin

  /** Q175 — the ROWWISE sampled encoder (see
    * [[graft.operators.Curation.unigramSampleEncodeRowwiseFromVocab]]):
    * q171's exact contract — and its exact ORACLE body (the UNBOUNDED
    * variant of [[uniSampleSqlFor]], full corpus) — from the compiled
    * in-place kernel. The declarative q171 formulation is the
    * oracle-shaped restatement; its ×10 decade point measured 19–22×
    * superlinear (token×edge join blowup), so this kernel is the
    * deployment encoder AND the family's full-corpus bench leg —
    * grading both against the same SQL restatement pins the kernel's
    * md5 draws, tempered α sums and choice rule to the fold semantics
    * bit-for-bit.
    */
  private def q175(spark: SparkSession, dir: String): DataFrame =
    Curation.unigramSampleEncodeRowwiseFromVocab(
        QueryDefs.spreadInput(Tables.documents(spark, dir), col("doc_id")),
        "doc_id", "text",
        SharedFrames.unigramVocab(spark, dir), maxPieceLen = UniL)
      .orderBy("doc_id", "word_pos", "sym_pos")

  /** Q179 — WordPiece-style GREEDY LONGEST-MATCH encoder (see
    * [[graft.operators.Curation.wordPieceEncodeRowwiseFromVocab]]): the
    * maximal-munch inference rule over the q168-trained piece table,
    * completing the tokenizer trio on one evaluation surface — BPE
    * (merge replay), unigram (probability-weighted Viterbi / sampled),
    * and greedy longest-match (position-wise commitment, no
    * probabilities consulted). Genuinely distinct output from q169/q174
    * on the same vocabulary (greedy commits to the longest prefix even
    * when the Viterbi split is finer — spec-pinned). The oracle builds
    * the best-match-length frame (posx × piece set), walks each word
    * with a recursive CTE (strictly advancing, so it terminates), and
    * falls back to the whole word where the walk strands — then joins
    * the token stream exactly as q169 does.
    */
  private def q179(spark: SparkSession, dir: String): DataFrame =
    Curation.wordPieceEncodeRowwiseFromVocab(Tables.documents(spark, dir),
        "doc_id", "text", SharedFrames.unigramVocab(spark, dir),
        maxPieceLen = UniL)
      .orderBy("doc_id", "word_pos", "sym_pos")

  private lazy val q179Sql =
    s"""WITH RECURSIVE $uniBaseCtes,
       |${uniRound(1)},
       |${uniRound(2)},
       |pcs AS (SELECT piece FROM v$UniRounds),
       |bm AS (SELECT p.w, p.j, max(p.i - p.j) AS l
       |       FROM posx p JOIN pcs USING (piece) GROUP BY 1, 2),
       |gw AS (SELECT w, n, 0 AS e, 0 AS k, NULL::INT AS s FROM wd
       |       UNION ALL
       |       SELECT gw.w, gw.n, (gw.e + bm.l)::INT AS e, gw.k + 1,
       |              gw.e AS s
       |       FROM gw JOIN bm ON bm.w = gw.w AND bm.j = gw.e
       |       WHERE gw.e < gw.n),
       |reach AS (SELECT w, max(e) AS r FROM gw GROUP BY 1),
       |segs AS (SELECT gw.w, (gw.k - 1)::BIGINT AS sym_pos,
       |                substr(gw.w, gw.s + 1, gw.e - gw.s) AS symbol
       |         FROM gw JOIN reach ON gw.w = reach.w
       |         JOIN wd ON gw.w = wd.w AND reach.r = wd.n
       |         WHERE gw.s IS NOT NULL
       |         UNION ALL
       |         SELECT wd.w, 0::BIGINT AS sym_pos, wd.w AS symbol
       |         FROM wd JOIN reach ON wd.w = reach.w
       |         WHERE reach.r < wd.n),
       |t AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS word_pos,
       |             unnest(toks) AS w
       |      FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |            FROM documents))
       |SELECT t.doc_id, t.word_pos::BIGINT AS word_pos,
       |       segs.sym_pos, segs.symbol
       |FROM t JOIN segs USING (w)
       |ORDER BY doc_id, word_pos, sym_pos""".stripMargin

  /** Q181 — TRUE WordPiece: the `##` continuation alphabet (VERDICT
    * r16 #4). q179 documents its deviation from BERT's WordPiece (one
    * piece set for every position); this query implements the
    * published two-alphabet convention: INITIAL and CONTINUATION piece
    * tables are DERIVED from the q168-trained vocabulary by corpus
    * position evidence (initial iff some word starts with the piece;
    * continuation iff it occurs at a later code-point position of some
    * word — see [[graft.operators.Curation.wordPieceAlphabets]]), and
    * the greedy longest-match walk consults the position-appropriate
    * set: position 0 emits raw from the initial alphabet, later
    * positions emit `##`-prefixed from the continuation alphabet, and
    * a stranded walk (now REACHABLE: a char that only ever occurs
    * word-initially has no continuation entry) falls back to the whole
    * word — the published [UNK] rule, no backtracking. The oracle
    * restates the alphabets over the trainer's own substring-position
    * frame (`posx`: initial ⟺ ∃ row at j = 0, continuation ⟺ ∃ row at
    * j > 0), builds a position-dependent best-match frame (j = 0
    * against the initial set, j > 0 against the continuation set),
    * and walks each word with q179's recursive CTE — `##`-decorating
    * every non-initial symbol. q179 stays graded as the
    * trained-piece-table (no-`##`) variant.
    */
  private def q181(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Curation.wordPieceEncodeRowwiseFromAlphabets(docs, "doc_id", "text",
        Curation.wordPieceAlphabets(docs, "text",
          SharedFrames.unigramVocab(spark, dir)),
        maxPieceLen = UniL)
      .orderBy("doc_id", "word_pos", "sym_pos")
  }

  private lazy val q181Sql =
    s"""WITH RECURSIVE $uniBaseCtes,
       |${uniRound(1)},
       |${uniRound(2)},
       |pcs AS (SELECT piece FROM v$UniRounds),
       |ini AS (SELECT DISTINCT p.piece FROM posx p JOIN pcs USING (piece)
       |        WHERE p.j = 0),
       |cnt AS (SELECT DISTINCT p.piece FROM posx p JOIN pcs USING (piece)
       |        WHERE p.j > 0),
       |bm AS (SELECT p.w, p.j, max(p.i - p.j) AS l
       |       FROM posx p JOIN ini USING (piece) WHERE p.j = 0
       |       GROUP BY 1, 2
       |       UNION ALL
       |       SELECT p.w, p.j, max(p.i - p.j) AS l
       |       FROM posx p JOIN cnt USING (piece) WHERE p.j > 0
       |       GROUP BY 1, 2),
       |gw AS (SELECT w, n, 0 AS e, 0 AS k, NULL::INT AS s FROM wd
       |       UNION ALL
       |       SELECT gw.w, gw.n, (gw.e + bm.l)::INT AS e, gw.k + 1,
       |              gw.e AS s
       |       FROM gw JOIN bm ON bm.w = gw.w AND bm.j = gw.e
       |       WHERE gw.e < gw.n),
       |reach AS (SELECT w, max(e) AS r FROM gw GROUP BY 1),
       |segs AS (SELECT gw.w, (gw.k - 1)::BIGINT AS sym_pos,
       |                CASE WHEN gw.s > 0
       |                     THEN '##' || substr(gw.w, gw.s + 1, gw.e - gw.s)
       |                     ELSE substr(gw.w, gw.s + 1, gw.e - gw.s)
       |                END AS symbol
       |         FROM gw JOIN reach ON gw.w = reach.w
       |         JOIN wd ON gw.w = wd.w AND reach.r = wd.n
       |         WHERE gw.s IS NOT NULL
       |         UNION ALL
       |         SELECT wd.w, 0::BIGINT AS sym_pos, wd.w AS symbol
       |         FROM wd JOIN reach ON wd.w = reach.w
       |         WHERE reach.r < wd.n),
       |t AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS word_pos,
       |             unnest(toks) AS w
       |      FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |            FROM documents))
       |SELECT t.doc_id, t.word_pos::BIGINT AS word_pos,
       |       segs.sym_pos, segs.symbol
       |FROM t JOIN segs USING (w)
       |ORDER BY doc_id, word_pos, sym_pos""".stripMargin

  /** Q182 — GREEDY-tokenizer fertility (VERDICT r16 #5): the
    * q121/q170-style metric pair over the single-alphabet greedy
    * longest-match segmentation of the q168-trained vocabulary (see
    * [[graft.operators.Curation.wordPieceSegmentedFromVocab]]), so all
    * THREE tokenizers — BPE (q121), unigram-Viterbi (q170), greedy
    * (this) — compare on one evaluation surface: per source, mean
    * symbols per word and chars per symbol. Same all-integer sums +
    * two final rounded divisions; the oracle reuses q179's recursive
    * greedy-walk CTEs and aggregates symbol counts per distinct word.
    */
  private def q182(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Curation.unigramFertilityFromSegments(docs, "source", "text",
        Curation.wordPieceSegmentedFromVocab(docs, "text",
          SharedFrames.unigramVocab(spark, dir), maxPieceLen = UniL))
      .orderBy("source")
  }

  private lazy val q182Sql =
    s"""WITH RECURSIVE $uniBaseCtes,
       |${uniRound(1)},
       |${uniRound(2)},
       |pcs AS (SELECT piece FROM v$UniRounds),
       |bm AS (SELECT p.w, p.j, max(p.i - p.j) AS l
       |       FROM posx p JOIN pcs USING (piece) GROUP BY 1, 2),
       |gw AS (SELECT w, n, 0 AS e, 0 AS k, NULL::INT AS s FROM wd
       |       UNION ALL
       |       SELECT gw.w, gw.n, (gw.e + bm.l)::INT AS e, gw.k + 1,
       |              gw.e AS s
       |       FROM gw JOIN bm ON bm.w = gw.w AND bm.j = gw.e
       |       WHERE gw.e < gw.n),
       |reach AS (SELECT w, max(e) AS r FROM gw GROUP BY 1),
       |spw AS (SELECT gw.w, count(*)::BIGINT AS ns
       |        FROM gw JOIN reach ON gw.w = reach.w
       |        JOIN wd ON gw.w = wd.w AND reach.r = wd.n
       |        WHERE gw.s IS NOT NULL
       |        GROUP BY 1
       |        UNION ALL
       |        SELECT wd.w, 1::BIGINT AS ns
       |        FROM wd JOIN reach ON wd.w = reach.w
       |        WHERE reach.r < wd.n),
       |tk AS (SELECT source, unnest(string_split(text, ' ')) AS w
       |       FROM documents)
       |SELECT tk.source, count(*)::BIGINT AS n_words,
       |       sum(spw.ns)::BIGINT AS n_symbols,
       |       sum(length(tk.w))::BIGINT AS n_chars,
       |       round(sum(spw.ns)::BIGINT / count(*), 6) AS fertility,
       |       round(sum(length(tk.w))::BIGINT / sum(spw.ns)::BIGINT, 6)
       |         AS chars_per_symbol
       |FROM tk JOIN spw USING (w)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-sequence token budget for q178's encoded train layout — the
    * composed job's own [[graft.pipelines.CurationJob.PackBudget]]. */
  private val LayoutBudget = 1024

  /** Q178 — the ENCODED TRAIN LAYOUT, job-shaped (VERDICT r15 #5): the
    * physical layout stage [[graft.pipelines.CurationJob]] runs with
    * `encodeTokens = true`, graded as one composition — every doc's
    * MODEL-token count under the trained unigram-LM (the compiled
    * rowwise Viterbi kernel folded to a per-row count,
    * [[graft.operators.Curation.unigramTokenCountRowwiseFromVocab]] —
    * zero extra shuffle) feeds the deterministic shard assignment and
    * the greedy per-shard sequence packing, so shard/pos/bin are
    * computed over what the tokenizer ACTUALLY yields, not the
    * whitespace proxy. The oracle restates the whole chain: the q168/
    * q169 vocabulary + Viterbi segmentation CTEs summed per doc, q75's
    * md5 shard/order hashes, and q63's running-sum bin law — so a wrong
    * count, a wrong shard, or a packing drift all hash-fail.
    * PipelineJobSpec separately pins the in-job invariant (packed
    * lengths = encoded lengths) on the composed five-table run.
    */
  private def q178(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val counted = Curation.unigramTokenCountRowwiseFromVocab(docs, "text",
        SharedFrames.unigramVocab(spark, dir), maxPieceLen = UniL)
      // unreadable rows have no layout position (the oracle's token
      // join is inner); the graded corpora contain none, but the query
      // states the contract
      .filter(col("n_model_tokens").isNotNull)
      .select("doc_id", "n_model_tokens")
    val sharded = Curation.shardAssign(counted, "doc_id", NumShards)
    val bins = Curation.packSequences(sharded, "pos",
        col("n_model_tokens"), "shard", LayoutBudget)
      .select(col("shard"), col("pos"), col("bin"))
    sharded.join(bins, Seq("shard", "pos"))
      .select(col("doc_id"), col("n_model_tokens"), col("shard"),
        col("pos"), col("bin"))
      .orderBy("doc_id")
  }

  private lazy val q178Sql =
    s"""WITH RECURSIVE $uniBaseCtes,
       |${uniRound(1)},
       |${uniRound(2)},
       |$uniSegCtes,
       |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |       FROM documents),
       |el AS (SELECT tk.doc_id, sum(len(f.syms))::BIGINT AS n_model_tokens
       |       FROM tk JOIN sp f USING (w) GROUP BY 1),
       |h AS (SELECT doc_id, n_model_tokens,
       |    (('0x' || substr(md5('shard:' || doc_id::VARCHAR), 1, 15))::BIGINT
       |      % $NumShards)::INTEGER AS shard,
       |    ('0x' || substr(md5('shard-ord:' || doc_id::VARCHAR), 1, 15))::BIGINT
       |      AS ord
       |  FROM el),
       |p AS (SELECT doc_id, n_model_tokens, shard,
       |        (row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
       |         - 1)::BIGINT AS pos
       |      FROM h)
       |SELECT doc_id, n_model_tokens, shard, pos,
       |       ((sum(n_model_tokens) OVER (PARTITION BY shard ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
       |        - n_model_tokens) // $LayoutBudget AS bin
       |FROM p ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ shard assignment

  private val NumShards = 8

  /** Q75 — deterministic global shuffle: every doc's training shard and
    * in-shard position, a pure function of ids (see
    * [[graft.operators.Curation.shardAssign]]).
    */
  private def q75(spark: SparkSession, dir: String): DataFrame =
    Curation.shardAssign(
        Tables.documents(spark, dir).select("doc_id"), "doc_id", NumShards)
      .orderBy("doc_id")

  private val q75Sql =
    s"""WITH h AS (SELECT doc_id,
       |    ('0x' || substr(md5('shard:' || doc_id::VARCHAR), 1, 15))::BIGINT
       |      % $NumShards AS shard,
       |    ('0x' || substr(md5('shard-ord:' || doc_id::VARCHAR), 1, 15))::BIGINT
       |      AS ord
       |  FROM documents)
       |SELECT doc_id, shard::INTEGER AS shard,
       |       (row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
       |        - 1)::BIGINT AS pos
       |FROM h ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- budgeted selection

  /** Per-language token budget for the curated-subset selection. */
  private val SelectBudget = 4000L

  /** Q76 — per-language quality-budgeted selection: docs ranked by
    * distinct-token ratio (DESC, id tie-break) are kept while the
    * running token total of better docs stays under the budget (see
    * [[graft.operators.Curation.budgetedSelection]]). The full audit
    * frame is emitted — rank, running total, keep flag.
    */
  private def q76(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    Curation.budgetedSelection(
        Tables.documents(spark, dir), "doc_id", "lang",
        round(size(array_distinct(toks)) / size(toks), 6),
        TextFns.tokenCount(col("text")), budget = SelectBudget)
      .orderBy("doc_id")
  }

  private val q76Sql =
    s"""WITH s AS (SELECT doc_id, lang,
       |    round(len(list_distinct(string_split(text, ' ')))
       |          / len(string_split(text, ' ')), 6) AS quality,
       |    len(string_split(text, ' '))::BIGINT AS n_tokens
       |  FROM documents),
       |w AS (SELECT doc_id, lang, quality, n_tokens,
       |    row_number() OVER (PARTITION BY lang
       |                       ORDER BY quality DESC, doc_id)::BIGINT AS rank,
       |    sum(n_tokens) OVER (PARTITION BY lang
       |                        ORDER BY quality DESC, doc_id
       |                        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
       |  FROM s)
       |SELECT doc_id, lang, quality, n_tokens, rank, cum_tokens,
       |       (CASE WHEN cum_tokens - n_tokens < $SelectBudget
       |             THEN 1 ELSE 0 END)::BIGINT AS keep
       |FROM w ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ BPE pair census

  private val BpeTopK = 20

  /** Q77 — the BPE merge-candidate census: corpus-wide adjacent
    * character-pair counts over the distinct-word frame, top candidates
    * by (count DESC, pair) — tokenizer training's inner counting loop
    * (see [[graft.operators.Curation.bpePairCounts]]).
    */
  private def q77(spark: SparkSession, dir: String): DataFrame =
    Curation.bpePairCounts(Tables.documents(spark, dir), "text", k = BpeTopK)

  private val q77Sql =
    s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w
       |              FROM documents),
       |wc AS (SELECT w, count(*) AS wc FROM toks GROUP BY 1
       |       HAVING len(w) >= 2),
       |p AS (SELECT unnest(list_transform(range(1, len(w)),
       |          i -> substr(w, i, 2))) AS pair, wc
       |      FROM wc),
       |pc AS (SELECT pair, sum(wc)::BIGINT AS pair_count FROM p GROUP BY 1)
       |SELECT pair, pair_count FROM pc
       |ORDER BY pair_count DESC, pair LIMIT $BpeTopK""".stripMargin

  /** Q83 — q56's repetition signals as the STATELESS per-row kernel
    * (in-row run-length folds over sorted gram arrays — no explode, no
    * keyed aggregate, stream-safe; see
    * [[graft.operators.Curation.repetitionStatsRowwise]]). Same output
    * contract as q56, so it is graded against the SAME oracle — two
    * independent plans, one algorithm of record.
    */
  private def q83(spark: SparkSession, dir: String): DataFrame =
    QueryDefs.orderByOnce(
      Curation.repetitionStatsRowwise(Tables.documents(spark, dir),
        "doc_id", "text"), col("doc_id"))

  /** q85's rule table — q71's thresholds; `contaminated` is appended by
    * the pass itself. */
  private val PassRules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "too_short" -> (col("n_tokens") < 20),
    "low_diversity" -> (col("distinct_ratio") < 0.35),
    "top_heavy" -> (col("top_word_frac") > 0.15),
    "dup_bigrams" -> (col("dup_bigram_frac") > 0.09))

  /** Q85 — the composed stateless curation pass (see
    * [[graft.operators.Curation.curationPass]]): signals + contamination
    * count + verdict (incl. the appended `contaminated` rule) + scrub in
    * ONE narrow projection — the per-document half of CurationJob,
    * stream-runnable, graded end-to-end against an oracle that restates
    * all four stages.
    */
  private def q85(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    QueryDefs.orderByOnce(Curation.curationPass(
        QueryDefs.spreadInput(docs.filter(col("doc_id") >= BenchCut)
          .select("doc_id", "lang", "text"), col("doc_id")),
        docs.filter(col("doc_id") < BenchCut),
        "doc_id", "text", PassRules)
      .drop("text"), col("doc_id"))
  }

  /** The q85 stage chain as a reusable CTE prefix (through `s2`), shared
    * with q166's composed classifier-selection path: repetition signals,
    * benchmark 5-gram overlap, and the two-stage scrub.
    */
  private val passCtes =
    s"""corpus AS (SELECT doc_id, lang, text FROM documents
       |                WHERE doc_id >= $BenchCut),
       |w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS g FROM corpus),
       |wc AS (SELECT doc_id, g, count(*) AS c FROM w GROUP BY 1, 2),
       |ws AS (SELECT doc_id, sum(c)::BIGINT AS n, count(*) AS d, max(c) AS tp
       |       FROM wc GROUP BY 1),
       |dd AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
       |b AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |          i -> concat_ws(' ', toks[i], toks[i+1]))) AS g FROM dd),
       |bc AS (SELECT doc_id, g, count(*) AS c FROM b GROUP BY 1, 2),
       |bs AS (SELECT doc_id, sum(c)::BIGINT AS n, count(*) AS d, max(c) AS tp
       |       FROM bc GROUP BY 1),
       |sig AS (SELECT ws.doc_id, ws.n AS n_tokens,
       |               round(ws.d / ws.n, 6) AS distinct_ratio,
       |               round(ws.tp / ws.n, 6) AS top_word_frac,
       |               round(bs.tp / bs.n, 6) AS top_bigram_frac,
       |               round(1.0 - bs.d / bs.n, 6) AS dup_bigram_frac
       |        FROM ws JOIN bs USING (doc_id)),
       |ad AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g5 AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |           range(1, len(toks) - 3),
       |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
       |                          toks[i+3], toks[i+4])))) AS g
       |       FROM ad),
       |bset AS (SELECT DISTINCT g FROM g5 WHERE doc_id < $BenchCut),
       |ov AS (SELECT g5.doc_id, count(*)::BIGINT AS n_overlap
       |       FROM g5 JOIN bset USING (g) WHERE g5.doc_id >= $BenchCut
       |       GROUP BY 1),
       |s1 AS (SELECT doc_id,
       |         len(regexp_extract_all(text,
       |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n1,
       |         regexp_replace(text,
       |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
       |           '<EMAIL>', 'g') AS t1
       |       FROM corpus),
       |s2 AS (SELECT doc_id, n1 + len(regexp_extract_all(t1, '[0-9]+')) AS n,
       |              regexp_replace(t1, '[0-9]+', '<NUM>', 'g') AS scrubbed
       |       FROM s1)""".stripMargin

  private val q85Sql =
    s"""WITH $passCtes
       |SELECT c.doc_id, c.lang, sig.n_tokens, sig.distinct_ratio,
       |       sig.top_word_frac, sig.top_bigram_frac, sig.dup_bigram_frac,
       |       coalesce(ov.n_overlap, 0)::BIGINT AS n_overlap,
       |       (CASE WHEN sig.n_tokens < 20 OR sig.distinct_ratio < 0.35
       |                  OR sig.top_word_frac > 0.15
       |                  OR sig.dup_bigram_frac > 0.09
       |                  OR coalesce(ov.n_overlap, 0) > 0
       |             THEN 0 ELSE 1 END)::BIGINT AS keep,
       |       concat_ws(',',
       |         CASE WHEN sig.n_tokens < 20 THEN 'too_short' END,
       |         CASE WHEN sig.distinct_ratio < 0.35 THEN 'low_diversity' END,
       |         CASE WHEN sig.top_word_frac > 0.15 THEN 'top_heavy' END,
       |         CASE WHEN sig.dup_bigram_frac > 0.09 THEN 'dup_bigrams' END,
       |         CASE WHEN coalesce(ov.n_overlap, 0) > 0 THEN 'contaminated' END)
       |         AS reasons,
       |       s2.scrubbed, s2.n::BIGINT AS n_redactions
       |FROM corpus c JOIN sig USING (doc_id)
       |LEFT JOIN ov ON ov.doc_id = c.doc_id
       |JOIN s2 ON s2.doc_id = c.doc_id
       |ORDER BY c.doc_id""".stripMargin

  // ------------------------------------------------ duplicated-span stats

  /** Q81 — cross-document duplicated-span coverage: per doc, the
    * fraction of its 5-gram occurrences whose gram also appears in
    * another document (see
    * [[graft.operators.Curation.duplicatedSpanStats]]) — the span-level
    * dedup signal doc-level dedup misses.
    */
  private def q81(spark: SparkSession, dir: String): DataFrame =
    Curation.duplicatedSpanStats(Tables.documents(spark, dir),
        "doc_id", "text", n = 5)
      .orderBy("doc_id")

  private val q81Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents),
      |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 3),
      |          i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
      |                         toks[i+3], toks[i+4]))) AS g
      |      FROM d),
      |tf AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
      |dfx AS (SELECT doc_id, g, c, count(*) OVER (PARTITION BY g) AS df
      |        FROM tf)
      |SELECT doc_id, sum(c)::BIGINT AS n_grams,
      |       sum(CASE WHEN df >= 2 THEN c ELSE 0 END)::BIGINT AS n_dup,
      |       round(sum(CASE WHEN df >= 2 THEN c ELSE 0 END) / sum(c), 6)
      |         AS dup_frac
      |FROM dfx GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------- cross-source overlap

  /** Q82 — the cross-source duplication matrix over token-set content
    * keys: for every ordered source pair, shared-key count and
    * containment fraction, zero rows included (see
    * [[graft.operators.Curation.sourceOverlap]]).
    */
  private def q82(spark: SparkSession, dir: String): DataFrame =
    Curation.sourceOverlap(Tables.documents(spark, dir), "source",
        graft.functions.TextFns.tokenSetKey(col("text")))
      .orderBy("source_a", "source_b")

  private val q82Sql =
    """WITH f AS (SELECT DISTINCT source, array_to_string(list_sort(
      |             list_distinct(list_filter(
      |               string_split_regex(lower(text), '\s+'),
      |               t -> t != ''))), ' ') AS fp
      |           FROM documents),
      |sz AS (SELECT source, count(*)::BIGINT AS n_a FROM f GROUP BY 1),
      |sh AS (SELECT a.source AS source_a, b.source AS source_b,
      |              count(*)::BIGINT AS n_shared
      |       FROM f a JOIN f b USING (fp)
      |       WHERE a.source != b.source GROUP BY 1, 2)
      |SELECT a.source AS source_a, b.source AS source_b, a.n_a,
      |       coalesce(sh.n_shared, 0)::BIGINT AS n_shared,
      |       round(coalesce(sh.n_shared, 0) / a.n_a, 6) AS containment
      |FROM sz a CROSS JOIN sz b
      |LEFT JOIN sh ON sh.source_a = a.source AND sh.source_b = b.source
      |WHERE a.source != b.source
      |ORDER BY source_a, source_b""".stripMargin

  /** Q149 — KMV-sketch source-overlap estimates: the bounded-synopsis
    * scale path for q82's exact overlap matrix (see
    * [[graft.operators.Curation.sourceOverlapSketch]]); per-source
    * 64-value sketches of the same content keys, pairwise
    * union/Jaccard from the synopses alone. The oracle restates the
    * sketch cut, the pair merge, and both estimators.
    */
  private def q149(spark: SparkSession, dir: String): DataFrame =
    Curation.sourceOverlapSketch(Tables.documents(spark, dir), "source",
        TextFns.tokenSetKey(col("text")))
      .orderBy("source_a", "source_b")

  private val q149Sql =
    """WITH f AS (SELECT DISTINCT source AS src,
      |             ('0x' || substr(md5('kmvso:' || array_to_string(
      |               list_sort(list_distinct(list_filter(
      |                 string_split_regex(lower(text), '\s+'),
      |                 t -> t != ''))), ' ')), 1, 15))::BIGINT AS hv
      |           FROM documents),
      |sk AS (SELECT src, hv FROM (
      |         SELECT src, hv,
      |                row_number() OVER (PARTITION BY src ORDER BY hv) AS rk
      |         FROM f)
      |       WHERE rk <= 64),
      |srcs AS (SELECT DISTINCT src FROM sk),
      |pr AS (SELECT a.src AS sa, b.src AS sb
      |       FROM srcs a CROSS JOIN srcs b WHERE a.src < b.src),
      |u AS (SELECT pr.sa, pr.sb, s.hv FROM pr JOIN sk s ON s.src = pr.sa
      |      UNION ALL
      |      SELECT pr.sa, pr.sb, s.hv FROM pr JOIN sk s ON s.src = pr.sb),
      |g AS (SELECT sa, sb, hv, count(*)::BIGINT AS nsides
      |      FROM u GROUP BY 1, 2, 3),
      |m AS (SELECT * FROM (
      |        SELECT *, row_number() OVER (PARTITION BY sa, sb
      |                  ORDER BY hv) AS rk
      |        FROM g)
      |      WHERE rk <= 64),
      |agg AS (SELECT sa, sb, count(*)::BIGINT AS merged,
      |               max(hv)::BIGINT AS kth,
      |               sum(CASE WHEN nsides = 2 THEN 1 ELSE 0 END)::BIGINT
      |                 AS n_common
      |        FROM m GROUP BY 1, 2)
      |SELECT sa AS source_a, sb AS source_b, merged, n_common,
      |       round(n_common / merged, 6) AS jaccard_est,
      |       round(CASE WHEN merged < 64 THEN merged::DOUBLE
      |                  ELSE (merged - 1) * 1.152921504606846976e18 / kth
      |             END, 6) AS union_est
      |FROM agg ORDER BY source_a, source_b""".stripMargin

  // ------------------------------------------------------- batched top-k

  /** Query sample for the retrieval eval: the lowest-id vectors. */
  private val QuerySample = 8
  private val RecallK = 10

  /** Q78 — batched brute-force cosine top-k: exact retrieval for the
    * whole query sample in one corpus scan, per-query rank-limited
    * window (WindowGroupLimit — see
    * [[graft.operators.Similarity.topKBatch]]). The ground-truth side
    * of q79's recall eval.
    */
  private def q78(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.topKBatch(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < QuerySample), "vec_id", k = RecallK)
      .orderBy(col("query_id"), col("cos_sim").desc, col("vec_id"))
  }

  private val q78Sql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
       |      FROM embeddings WHERE vec_id < $QuerySample),
       |s AS (SELECT q.query_id, e.vec_id,
       |             round(${PipelineQueries.cosSql("e.e", "qe")}, 6) AS cos_sim
       |      FROM e, q),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |               ORDER BY cos_sim DESC, vec_id) AS rk
       |      FROM s)
       |SELECT query_id, vec_id, cos_sim FROM r WHERE rk <= $RecallK
       |ORDER BY query_id, cos_sim DESC, vec_id""".stripMargin

  /** Q138 — multi-probe LSH ANN top-k (Lv et al. 2007; see
    * [[graft.operators.Similarity.lshMultiProbeTopKBatch]]): each query
    * probes its own band plus every one-bit perturbation, trading a
    * ×(rows+1) QUERY-side fanout for steeply higher candidate recall
    * while the corpus index stays byte-identical to q28/q79's — the
    * standard recall/cost knob of a deployed LSH index. Oracle restates
    * the full probe-set generation (nested perturbation lambdas over
    * the same plane model) + candidate join + exact re-rank.
    */
  private def q138(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.lshMultiProbeTopKBatch(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < QuerySample), "vec_id", k = RecallK)
      .orderBy(col("query_id"), col("cos_sim").desc, col("vec_id"))
  }

  /** The multi-probe candidate CTEs shared by q138 and q139: probe
    * strings per query (p = 0 keeps the band, p ≥ 1 flips bit p−1) and
    * the distinct candidate join against the single-probe corpus bands.
    */
  private lazy val mpCandSql: String = {
    val bands = graft.operators.Similarity.Bands
    val rows = graft.operators.Similarity.planeInts.length / bands
    s"""qp AS (SELECT vec_id AS query_id,
       |         unnest(flatten(list_transform(range(0, $bands), b ->
       |           list_transform(range(0, $rows + 1), p ->
       |             b::VARCHAR || '_' || array_to_string(
       |               list_transform(range(0, $rows), r ->
       |                 CASE WHEN r = p - 1
       |                      THEN 1 - sg[b * $rows + r + 1]
       |                      ELSE sg[b * $rows + r + 1] END), '_')))))
       |           AS band
       |       FROM sig WHERE vec_id < $QuerySample),
       |cand AS (SELECT DISTINCT qp.query_id, b.vec_id
       |         FROM bands b JOIN qp USING (band)),
       |q AS (SELECT vec_id AS query_id, e AS qe FROM e
       |      WHERE vec_id < $QuerySample),
       |aps AS (SELECT c.query_id, c.vec_id,
       |               round(${PipelineQueries.cosSql("ce.e", "qe")}, 6) AS cos_sim
       |        FROM cand c JOIN e ce ON ce.vec_id = c.vec_id
       |                    JOIN q ON q.query_id = c.query_id),
       |apr AS (SELECT query_id, vec_id, cos_sim, row_number() OVER (
       |            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
       |        FROM aps)""".stripMargin
  }

  private lazy val q138Sql =
    s"""WITH ${PipelineQueries.lshBandsSql},
       |$mpCandSql
       |SELECT query_id, vec_id, cos_sim FROM apr WHERE rk <= $RecallK
       |ORDER BY query_id, cos_sim DESC, vec_id""".stripMargin

  /** Q139 — multi-probe recall@k against q78's exact ground truth: the
    * measured point on the probe-count recall/cost curve next to q79's
    * single-probe recall (multi-probe candidates are a superset, so
    * per-query recall is ≥ q79's by construction — the oracle grades
    * the actual values).
    */
  private def q139(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < QuerySample)
    Similarity.recallAtK(
        Similarity.topKBatch(emb, "vec_id", "embedding", qs, "vec_id", RecallK),
        Similarity.lshMultiProbeTopKBatch(emb, "vec_id", "embedding", qs,
          "vec_id", RecallK),
        "query_id", "vec_id")
      .orderBy("query_id")
  }

  private lazy val q139Sql =
    s"""WITH ${PipelineQueries.lshBandsSql},
       |$mpCandSql,
       |s AS (SELECT q.query_id, e.vec_id,
       |             round(${PipelineQueries.cosSql("e.e", "qe")}, 6) AS cos_sim
       |      FROM e, q),
       |exr AS (SELECT query_id, vec_id, row_number() OVER (
       |            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
       |        FROM s),
       |ext AS (SELECT query_id, vec_id FROM exr WHERE rk <= $RecallK),
       |apt AS (SELECT query_id, vec_id FROM apr WHERE rk <= $RecallK),
       |h AS (SELECT apt.query_id, count(*)::BIGINT AS n_hit
       |      FROM apt JOIN ext ON apt.query_id = ext.query_id
       |                       AND apt.vec_id = ext.vec_id
       |      GROUP BY 1),
       |t AS (SELECT query_id, count(*)::BIGINT AS n_exact FROM ext
       |      GROUP BY 1)
       |SELECT t.query_id, t.n_exact, coalesce(h.n_hit, 0)::BIGINT AS n_hit,
       |       round(coalesce(h.n_hit, 0) / t.n_exact, 6) AS recall
       |FROM t LEFT JOIN h USING (query_id)
       |ORDER BY query_id""".stripMargin

  /** Q84 — batched IVF ANN top-k: the inverted-file counterpart of
    * q78/q79's retrieval harness (see
    * [[graft.operators.Similarity.ivfTopKBatch]]) — corpus cell-assigned
    * once in-row, per-query probe cells broadcast, exact re-rank through
    * the rank-limited window. Same quantizer model as q33, restated
    * whole in the oracle.
    */
  private def q84(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.ivfTopKBatch(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < QuerySample), "vec_id", k = RecallK,
        nCentroids = PipelineQueries.IvfCentroids,
        nProbe = PipelineQueries.IvfProbes)
      .orderBy(col("query_id"), col("cos_sim").desc, col("vec_id"))
  }

  private lazy val q84Sql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |cents AS (SELECT vec_id AS cent, e AS ce FROM e
       |          ORDER BY vec_id LIMIT ${PipelineQueries.IvfCentroids}),
       |aff AS (SELECT e.vec_id, c.cent,
       |               ${PipelineQueries.cosSql("e.e", "c.ce")} AS cs
       |        FROM e, cents c),
       |cell AS (SELECT vec_id, cent AS cell FROM (
       |           SELECT vec_id, cent, row_number() OVER (
       |             PARTITION BY vec_id ORDER BY (0.0 - cs), cent) AS rn
       |           FROM aff) WHERE rn = 1),
       |qprobes AS (SELECT vec_id AS query_id, cent AS cell FROM (
       |              SELECT vec_id, cent, row_number() OVER (
       |                PARTITION BY vec_id ORDER BY (0.0 - cs), cent) AS rn
       |              FROM aff WHERE vec_id < $QuerySample)
       |            WHERE rn <= ${PipelineQueries.IvfProbes}),
       |q AS (SELECT vec_id AS query_id, e AS qe FROM e
       |      WHERE vec_id < $QuerySample),
       |s AS (SELECT q.query_id, e.vec_id,
       |             round(${PipelineQueries.cosSql("e.e", "qe")}, 6) AS cos_sim
       |      FROM e JOIN cell USING (vec_id)
       |             JOIN qprobes ON cell.cell = qprobes.cell
       |             JOIN q ON q.query_id = qprobes.query_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |               ORDER BY cos_sim DESC, vec_id) AS rk
       |      FROM s)
       |SELECT query_id, vec_id, cos_sim FROM r WHERE rk <= $RecallK
       |ORDER BY query_id, cos_sim DESC, vec_id""".stripMargin

  // ---------------------------------------------------------- ANN recall

  /** Q79 — recall@k of the LSH index against q78's brute-force ground
    * truth, per query (see [[graft.operators.Similarity.recallAtK]] /
    * [[graft.operators.Similarity.lshTopKBatch]]). The oracle restates
    * BOTH retrieval paths — the full plane model, banding, candidate
    * join, re-rank — and the recall arithmetic, so the metric itself is
    * hash-graded, not just spot-checked.
    */
  private def q79(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < QuerySample)
    Similarity.recallAtK(
        Similarity.topKBatch(emb, "vec_id", "embedding", qs, "vec_id", RecallK),
        Similarity.lshTopKBatch(emb, "vec_id", "embedding", qs, "vec_id", RecallK),
        "query_id", "vec_id")
      .orderBy("query_id")
  }

  private lazy val q79Sql =
    s"""WITH ${PipelineQueries.lshBandsSql},
       |q AS (SELECT vec_id AS query_id, e AS qe FROM e
       |      WHERE vec_id < $QuerySample),
       |s AS (SELECT q.query_id, e.vec_id,
       |             round(${PipelineQueries.cosSql("e.e", "qe")}, 6) AS cos_sim
       |      FROM e, q),
       |exr AS (SELECT query_id, vec_id, row_number() OVER (
       |            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
       |        FROM s),
       |ext AS (SELECT query_id, vec_id FROM exr WHERE rk <= $RecallK),
       |qb AS (SELECT vec_id AS query_id, band FROM bands
       |       WHERE vec_id < $QuerySample),
       |cand AS (SELECT DISTINCT qb.query_id, b.vec_id
       |         FROM bands b JOIN qb USING (band)),
       |aps AS (SELECT c.query_id, c.vec_id,
       |               round(${PipelineQueries.cosSql("ce.e", "qe")}, 6) AS cos_sim
       |        FROM cand c JOIN e ce ON ce.vec_id = c.vec_id
       |                    JOIN q ON q.query_id = c.query_id),
       |apr AS (SELECT query_id, vec_id, row_number() OVER (
       |            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
       |        FROM aps),
       |apt AS (SELECT query_id, vec_id FROM apr WHERE rk <= $RecallK),
       |h AS (SELECT apt.query_id, count(*)::BIGINT AS n_hit
       |      FROM apt JOIN ext ON apt.query_id = ext.query_id
       |                       AND apt.vec_id = ext.vec_id
       |      GROUP BY 1),
       |t AS (SELECT query_id, count(*)::BIGINT AS n_exact FROM ext
       |      GROUP BY 1)
       |SELECT t.query_id, t.n_exact, coalesce(h.n_hit, 0)::BIGINT AS n_hit,
       |       round(coalesce(h.n_hit, 0) / t.n_exact, 6) AS recall
       |FROM t LEFT JOIN h USING (query_id) ORDER BY query_id""".stripMargin

  /** Q86 — recall@k of the IVF index against q78's brute-force ground
    * truth (the [[q79]] evaluation applied to the other index family):
    * how much exact recall the probe budget buys. Oracle restates the
    * full quantizer model, probe join, both re-ranks, and the recall
    * arithmetic.
    */
  private def q86(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < QuerySample)
    Similarity.recallAtK(
        Similarity.topKBatch(emb, "vec_id", "embedding", qs, "vec_id", RecallK),
        Similarity.ivfTopKBatch(emb, "vec_id", "embedding", qs, "vec_id",
          RecallK, nCentroids = PipelineQueries.IvfCentroids,
          nProbe = PipelineQueries.IvfProbes),
        "query_id", "vec_id")
      .orderBy("query_id")
  }

  private lazy val q86Sql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |q AS (SELECT vec_id AS query_id, e AS qe FROM e
       |      WHERE vec_id < $QuerySample),
       |s AS (SELECT q.query_id, e.vec_id,
       |             round(${PipelineQueries.cosSql("e.e", "qe")}, 6) AS cos_sim
       |      FROM e, q),
       |exr AS (SELECT query_id, vec_id, row_number() OVER (
       |            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
       |        FROM s),
       |ext AS (SELECT query_id, vec_id FROM exr WHERE rk <= $RecallK),
       |cents AS (SELECT vec_id AS cent, e AS ce FROM e
       |          ORDER BY vec_id LIMIT ${PipelineQueries.IvfCentroids}),
       |aff AS (SELECT e.vec_id, c.cent,
       |               ${PipelineQueries.cosSql("e.e", "c.ce")} AS cs
       |        FROM e, cents c),
       |cell AS (SELECT vec_id, cent AS cell FROM (
       |           SELECT vec_id, cent, row_number() OVER (
       |             PARTITION BY vec_id ORDER BY (0.0 - cs), cent) AS rn
       |           FROM aff) WHERE rn = 1),
       |qprobes AS (SELECT vec_id AS query_id, cent AS cell FROM (
       |              SELECT vec_id, cent, row_number() OVER (
       |                PARTITION BY vec_id ORDER BY (0.0 - cs), cent) AS rn
       |              FROM aff WHERE vec_id < $QuerySample)
       |            WHERE rn <= ${PipelineQueries.IvfProbes}),
       |ivs AS (SELECT q.query_id, e.vec_id,
       |              round(${PipelineQueries.cosSql("e.e", "qe")}, 6) AS cos_sim
       |        FROM e JOIN cell USING (vec_id)
       |               JOIN qprobes ON cell.cell = qprobes.cell
       |               JOIN q ON q.query_id = qprobes.query_id),
       |ivr AS (SELECT query_id, vec_id, row_number() OVER (
       |            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
       |        FROM ivs),
       |ivt AS (SELECT query_id, vec_id FROM ivr WHERE rk <= $RecallK),
       |h AS (SELECT ivt.query_id, count(*)::BIGINT AS n_hit
       |      FROM ivt JOIN ext ON ivt.query_id = ext.query_id
       |                       AND ivt.vec_id = ext.vec_id
       |      GROUP BY 1),
       |t AS (SELECT query_id, count(*)::BIGINT AS n_exact FROM ext
       |      GROUP BY 1)
       |SELECT t.query_id, t.n_exact, coalesce(h.n_hit, 0)::BIGINT AS n_hit,
       |       round(coalesce(h.n_hit, 0) / t.n_exact, 6) AS recall
       |FROM t LEFT JOIN h USING (query_id) ORDER BY query_id""".stripMargin

  /** Q128 — recall@k of PROJECTED-space retrieval vs full-dimension
    * truth: brute top-k over the q127 16-d JL sketches measured against
    * brute top-k over the original 64-d embeddings — the direct quality
    * read of the dimensionality reduction (the JL trade is 4× less
    * vector data per distance at whatever recall this measures), graded
    * like the LSH/IVF/PQ index families (q79/q86/q90). The oracle
    * restates the projection (q127's shared CTE), both retrievals, and
    * the recall arithmetic.
    */
  private def q128(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val proj = Similarity.randomProject(emb, "vec_id", "embedding",
      inDim = PipelineQueries.RpInDim, outDim = PipelineQueries.RpOutDim)
    Similarity.recallAtK(
        Similarity.topKBatch(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < QuerySample), "vec_id", RecallK),
        Similarity.topKBatch(proj, "vec_id", "proj",
          proj.filter(col("vec_id") < QuerySample), "vec_id", RecallK),
        "query_id", "vec_id")
      .orderBy("query_id")
  }

  private lazy val q128Sql =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |q AS (SELECT vec_id AS query_id, e AS qe FROM e
       |      WHERE vec_id < $QuerySample),
       |s AS (SELECT q.query_id, e.vec_id,
       |             round(${PipelineQueries.cosSql("e.e", "qe")}, 6) AS cos_sim
       |      FROM e, q),
       |exr AS (SELECT query_id, vec_id, row_number() OVER (
       |            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
       |        FROM s),
       |ext AS (SELECT query_id, vec_id FROM exr WHERE rk <= $RecallK),
       |${PipelineQueries.rpProjCte},
       |pp AS MATERIALIZED (SELECT vec_id, list(y ORDER BY j) AS p
       |                    FROM rpp GROUP BY 1),
       |qp AS (SELECT vec_id AS query_id, p AS qpv FROM pp
       |       WHERE vec_id < $QuerySample),
       |ps AS (SELECT qp.query_id, pp.vec_id,
       |             round(${PipelineQueries.cosSql("pp.p", "qpv")}, 6)
       |               AS cos_sim
       |      FROM pp, qp),
       |ppr AS (SELECT query_id, vec_id, row_number() OVER (
       |            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
       |        FROM ps),
       |ppt AS (SELECT query_id, vec_id FROM ppr WHERE rk <= $RecallK),
       |h AS (SELECT ppt.query_id, count(*)::BIGINT AS n_hit
       |      FROM ppt JOIN ext ON ppt.query_id = ext.query_id
       |                       AND ppt.vec_id = ext.vec_id
       |      GROUP BY 1),
       |t AS (SELECT query_id, count(*)::BIGINT AS n_exact FROM ext
       |      GROUP BY 1)
       |SELECT t.query_id, t.n_exact, coalesce(h.n_hit, 0)::BIGINT AS n_hit,
       |       round(coalesce(h.n_hit, 0) / t.n_exact, 6) AS recall
       |FROM t LEFT JOIN h USING (query_id) ORDER BY query_id""".stripMargin

  /** Merge rounds for the graded BPE training run. */
  private val BpeMerges = 8

  /** Q88 — the ITERATIVE BPE trainer: 8 rounds of count-best-fuse over
    * the distinct-word symbol frame, graded as the end-state symbol
    * vocabulary `(symbol, n_occurrences)` (see
    * [[graft.operators.Curation.bpeTrain]] — a wrong argmax or fusion
    * in any round changes the final symbols, so the whole loop is
    * hash-graded, not just one census like q77).
    */
  private def q88(spark: SparkSession, dir: String): DataFrame =
    Curation.bpeTrain(Tables.documents(spark, dir), "text", merges = BpeMerges)
      .orderBy("symbol")

  /** The oracle unrolls all 8 training rounds in SQL: per round, a pair
    * census (`pc`), the argmax merge pick (`bp`), and a RECURSIVE
    * fixpoint (`f`) that repeatedly fuses the leftmost occurrence of
    * the picked pair in every word — equivalent to the engine's one
    * left-to-right scan because a fused symbol can never seed a new
    * match (that would need an empty symbol). `w{i+1}` keeps each
    * word's match-free fixpoint row. When a round has NO pairs left
    * (every word fused to one symbol), `bp` emits an empty-string
    * sentinel pair that can never match — the cross joins stay
    * populated and later rounds are no-ops, exactly the engine's
    * early-stop semantics.
    *
    * Every non-recursive CTE is `MATERIALIZED`: each stage references
    * its predecessor more than once, and letting the optimizer INLINE
    * the chain instead re-expands all prior stages per reference —
    * exponential re-evaluation of the recursive fixpoints (measured as
    * a multi-minute hang at sf0.001; materialized, the whole oracle
    * runs in ~0.1 s).
    */
  private lazy val bpeCteChain: String = {
    def hasMatch(t: String) =
      s"list_contains(list_transform(range(1, len(syms)), " +
        s"j -> syms[j] = $t.a AND syms[j+1] = $t.b), true)"
    val stages = (0 until BpeMerges).map { i =>
      s"""pc$i AS MATERIALIZED (SELECT p AS pair, sum(wc)::BIGINT AS cnt FROM (
         |    SELECT unnest(list_transform(range(1, len(syms)),
         |             j -> syms[j] || ' ' || syms[j+1])) AS p, wc
         |    FROM w$i) GROUP BY 1),
         |bp$i AS MATERIALIZED (
         |  (SELECT string_split(pair, ' ')[1] AS a,
         |          string_split(pair, ' ')[2] AS b
         |   FROM pc$i ORDER BY cnt DESC, pair LIMIT 1)
         |  UNION ALL
         |  SELECT '', '' WHERE NOT EXISTS (SELECT 1 FROM pc$i)),
         |f$i AS (SELECT wid, syms, wc FROM w$i
         |  UNION ALL
         |  SELECT wid,
         |         syms[1:j0-1] || [syms[j0] || syms[j0+1]] || syms[j0+2:],
         |         wc
         |  FROM (SELECT f.wid, f.syms, f.wc,
         |          list_min(list_filter(range(1, len(f.syms)),
         |            j -> f.syms[j] = bp$i.a AND f.syms[j+1] = bp$i.b)) AS j0
         |        FROM f$i f, bp$i) WHERE j0 IS NOT NULL),
         |w${i + 1} AS MATERIALIZED (SELECT f.wid, f.syms, f.wc FROM f$i f, bp$i
         |              WHERE NOT coalesce(${hasMatch(s"bp$i")}, false))""".stripMargin
    }
    s"""WITH RECURSIVE
       |w0 AS MATERIALIZED (SELECT w AS wid, regexp_extract_all(w, '.') AS syms,
       |              cnt::BIGINT AS wc
       |       FROM (SELECT w, count(*) AS cnt FROM (
       |               SELECT unnest(string_split(text, ' ')) AS w
       |               FROM documents) GROUP BY 1)),
       |${stages.mkString(",\n")}""".stripMargin
  }

  private lazy val q88Sql =
    s"""$bpeCteChain
       |SELECT symbol, sum(wc)::BIGINT AS n_occurrences FROM (
       |  SELECT unnest(syms) AS symbol, wc FROM w$BpeMerges)
       |GROUP BY 1 ORDER BY symbol""".stripMargin

  /** Q92 — recall@k of the COMPOSED IVF-PQ index against q78's
    * brute-force ground truth: the coarse quantizer restricts each
    * query to its probe cells AND candidates are scored through their
    * 8-byte PQ codes — the double approximation of the classic
    * at-scale ANN layout, with its recall cost measured like q79/q86/
    * q90 (see [[graft.operators.Similarity.ivfPqTopKBatch]]). The
    * oracle restates the full coarse model (q84's), the full PQ model
    * (q89's), the cell-restricted ADC scoring, both re-ranks, and the
    * recall arithmetic.
    */
  private def q92(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < QuerySample)
    Similarity.recallAtK(
        Similarity.topKBatch(emb, "vec_id", "embedding", qs, "vec_id", RecallK),
        Similarity.ivfPqTopKBatch(emb, "vec_id", "embedding", qs, "vec_id",
          RecallK, nCentroids = PipelineQueries.IvfCentroids,
          nProbe = PipelineQueries.IvfProbes),
        "query_id", "vec_id")
      .orderBy("query_id")
  }

  private lazy val q92Sql =
    s"""WITH $pqCte,
       |ivfc AS MATERIALIZED (SELECT vec_id AS cent, e AS ce FROM e
       |          ORDER BY vec_id LIMIT ${PipelineQueries.IvfCentroids}),
       |aff AS MATERIALIZED (SELECT e.vec_id, c.cent,
       |               ${PipelineQueries.cosSql("e.e", "c.ce")} AS cs
       |        FROM e, ivfc c),
       |cellv AS MATERIALIZED (SELECT vec_id, cent AS cell FROM (
       |           SELECT vec_id, cent, row_number() OVER (
       |             PARTITION BY vec_id ORDER BY (0.0 - cs), cent) AS rn
       |           FROM aff) WHERE rn = 1),
       |qprobes AS MATERIALIZED (SELECT vec_id AS query_id, cent AS cell FROM (
       |              SELECT vec_id, cent, row_number() OVER (
       |                PARTITION BY vec_id ORDER BY (0.0 - cs), cent) AS rn
       |              FROM aff WHERE vec_id < $QuerySample)
       |            WHERE rn <= ${PipelineQueries.IvfProbes}),
       |q AS MATERIALIZED (
       |  SELECT vec_id AS query_id, e AS qe,
       |         sqrt(list_reduce(list_transform(e, x -> x*x),
       |              (u, v) -> u + v)) AS nq
       |  FROM e WHERE vec_id < $QuerySample),
       |nx AS MATERIALIZED (
       |  SELECT vec_id, sqrt(list_reduce(list_transform(e, x -> x*x),
       |                      (u, v) -> u + v)) AS nx
       |  FROM e),
       |sx AS (SELECT q.query_id, e.vec_id,
       |              round(${PipelineQueries.cosSql("e.e", "qe")}, 6) AS cos_sim
       |       FROM e, q),
       |exr AS (SELECT query_id, vec_id, row_number() OVER (
       |            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
       |        FROM sx),
       |ext AS (SELECT query_id, vec_id FROM exr WHERE rk <= $RecallK),
       |cand AS (SELECT qp.query_id, cv.vec_id
       |         FROM cellv cv JOIN qprobes qp ON cv.cell = qp.cell),
       |ips AS (SELECT ca.query_id, ca.vec_id, cd.s,
       |          list_reduce(list_transform(range(0, 8),
       |            j -> q.qe[cd.s*8+j+1] * ct.cent[j+1]), (u, v) -> u + v) AS ip
       |        FROM cand ca JOIN codes cd ON cd.vec_id = ca.vec_id
       |             JOIN cent ct ON ct.s = cd.s AND ct.c = cd.code
       |             JOIN q ON q.query_id = ca.query_id),
       |tot AS (SELECT query_id, vec_id,
       |          list_reduce(list(ip ORDER BY s), (u, v) -> u + v) AS adc
       |        FROM ips GROUP BY 1, 2),
       |aps AS (SELECT t.query_id, t.vec_id,
       |          round(t.adc / (nx.nx * q.nq), 6) AS cos_sim
       |        FROM tot t JOIN nx USING (vec_id)
       |                   JOIN q ON q.query_id = t.query_id),
       |apr AS (SELECT query_id, vec_id, row_number() OVER (
       |            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
       |        FROM aps),
       |apt AS (SELECT query_id, vec_id FROM apr WHERE rk <= $RecallK),
       |h AS (SELECT apt.query_id, count(*)::BIGINT AS n_hit
       |      FROM apt JOIN ext ON apt.query_id = ext.query_id
       |                       AND apt.vec_id = ext.vec_id
       |      GROUP BY 1),
       |t AS (SELECT query_id, count(*)::BIGINT AS n_exact FROM ext
       |      GROUP BY 1)
       |SELECT t.query_id, t.n_exact, coalesce(h.n_hit, 0)::BIGINT AS n_hit,
       |       round(coalesce(h.n_hit, 0) / t.n_exact, 6) AS recall
       |FROM t LEFT JOIN h USING (query_id) ORDER BY query_id""".stripMargin

  /** Q91 — BPE ENCODING of the corpus under the q88-trained
    * segmentation: every document token's symbol sequence after 8
    * merges, in document order (see
    * [[graft.operators.Curation.bpeEncode]] — merges never cross word
    * boundaries, so application is a join of the token stream against
    * the trained word→symbols frame). Graded symbol-for-symbol; a
    * wrong merge anywhere in training mis-segments some word and
    * breaks the hash.
    */
  private def q91(spark: SparkSession, dir: String): DataFrame =
    Curation.bpeEncode(Tables.documents(spark, dir), "doc_id", "text",
        merges = BpeMerges)
      .orderBy("doc_id", "word_pos", "sym_pos")

  /** Q176 — the ROWWISE BPE encoder (see
    * [[graft.operators.Curation.bpeEncodeRowwise]]): q91's contract —
    * and its ORACLE, verbatim — with the trained merge sequence
    * replayed per token as a chain of plan-constant
    * [[graft.expressions.BpeMergePair]] kernels instead of the
    * word-keyed join; the q174/q175 convention applied to the BPE
    * family.
    */
  private def q176(spark: SparkSession, dir: String): DataFrame =
    QueryDefs.orderByOnce(
      Curation.bpeEncodeRowwise(Tables.documents(spark, dir), "doc_id",
        "text", merges = BpeMerges),
      col("doc_id"), col("word_pos"), col("sym_pos"))

  private lazy val q91Sql =
    s"""$bpeCteChain,
       |t AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS word_pos,
       |             unnest(toks) AS w
       |      FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |            FROM documents))
       |SELECT t.doc_id, t.word_pos::BIGINT AS word_pos,
       |       generate_subscripts(f.syms, 1)::BIGINT - 1 AS sym_pos,
       |       unnest(f.syms) AS symbol
       |FROM t JOIN w$BpeMerges f ON f.wid = t.w
       |ORDER BY doc_id, word_pos, sym_pos""".stripMargin

  /** Q121 — tokenizer fertility / compression per source under the
    * q88-trained BPE (Rust et al. 2021): mean symbols per word and
    * chars per symbol — the per-stratum "does this vocabulary serve
    * this slice" report (see
    * [[graft.operators.Curation.bpeFertility]]). Integer sums + two
    * rounded divisions; the oracle rides the full unrolled training
    * chain, so a wrong merge anywhere shifts a fertility and breaks
    * the hash.
    */
  private def q121(spark: SparkSession, dir: String): DataFrame =
    Curation.bpeFertility(Tables.documents(spark, dir), "source", "text",
        merges = BpeMerges)
      .orderBy("source")

  private lazy val q121Sql =
    s"""$bpeCteChain,
       |tk AS (SELECT source, unnest(string_split(text, ' ')) AS w
       |       FROM documents)
       |SELECT tk.source, count(*)::BIGINT AS n_words,
       |       sum(len(f.syms))::BIGINT AS n_symbols,
       |       sum(len(f.wid))::BIGINT AS n_chars,
       |       round(sum(len(f.syms))::BIGINT / count(*), 6) AS fertility,
       |       round(sum(len(f.wid))::BIGINT / sum(len(f.syms))::BIGINT, 6)
       |         AS chars_per_symbol
       |FROM tk JOIN w$BpeMerges f ON f.wid = tk.w
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Q87 — CCNet-style perplexity bucketing: per-language head/middle/
    * tail split of the cross-entropy score by RANK terciles (see
    * [[graft.operators.Curation.perplexityBuckets]] — integer-exact
    * bucket boundaries, no float-cut comparisons).
    */
  private def q87(spark: SparkSession, dir: String): DataFrame =
    Curation.perplexityBuckets(Tables.documents(spark, dir),
        "doc_id", "text", "lang", nBuckets = 3)
      .orderBy("doc_id")

  private val q87Sql =
    s"""WITH ${HygieneQueries.crossEntropyCte},
       |j AS (SELECT ce.doc_id, ce.n_tokens, ce.cross_entropy, d.lang
       |      FROM ce JOIN documents d USING (doc_id))
       |SELECT doc_id, n_tokens, cross_entropy, lang,
       |       ntile(3) OVER (PARTITION BY lang
       |                      ORDER BY cross_entropy, doc_id)::BIGINT AS bucket
       |FROM j ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- product quantization

  /** The shared PQ-model CTE chain: seeds (16 lowest-id vectors'
    * subvectors), the one-Lloyd-step refinement with empty-cell seed
    * fallback, the final per-(subspace, cell) centroid lists, and the
    * code assignment — restating
    * [[graft.operators.Similarity.pqCodebook]] / `pqCodes` whole. Every
    * distance/dot is a `list_reduce` left fold, matching the kernels'
    * accumulation order exactly; ties break toward the lower cell.
    * CTEs are MATERIALIZED — each is referenced downstream more than
    * once and optimizer inlining would re-expand the chain per
    * reference (the q88 lesson).
    */
  private val pqCte =
    """e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e
      |                   FROM embeddings),
      |seeds AS MATERIALIZED (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, e AS se
      |  FROM (SELECT vec_id, e FROM e ORDER BY vec_id LIMIT 16)),
      |a0 AS MATERIALIZED (
      |  SELECT vec_id, s, c FROM (
      |    SELECT x.vec_id, t.s, sd.c,
      |           row_number() OVER (PARTITION BY x.vec_id, t.s ORDER BY
      |             list_reduce(list_transform(range(0, 8),
      |               j -> (x.e[t.s*8+j+1] - sd.se[t.s*8+j+1])
      |                  * (x.e[t.s*8+j+1] - sd.se[t.s*8+j+1])),
      |               (u, v) -> u + v) ASC, sd.c ASC) AS rn
      |    FROM e x, range(0, 8) t(s), seeds sd) WHERE rn = 1),
      |ref AS MATERIALIZED (
      |  SELECT a.s, a.c, tj.j, round(avg(x.e[a.s*8 + tj.j + 1]), 6) AS v
      |  FROM a0 a JOIN e x USING (vec_id) CROSS JOIN range(0, 8) tj(j)
      |  GROUP BY 1, 2, 3),
      |cbk AS MATERIALIZED (
      |  SELECT t.s, sd.c, tj.j,
      |         coalesce(r.v, round(sd.se[t.s*8 + tj.j + 1], 6)) AS v
      |  FROM range(0, 8) t(s) CROSS JOIN seeds sd CROSS JOIN range(0, 8) tj(j)
      |  LEFT JOIN ref r ON r.s = t.s AND r.c = sd.c AND r.j = tj.j),
      |cent AS MATERIALIZED (SELECT s, c, list(v ORDER BY j) AS cent
      |                      FROM cbk GROUP BY 1, 2),
      |codes AS MATERIALIZED (
      |  SELECT vec_id, s, c AS code FROM (
      |    SELECT x.vec_id, ct.s, ct.c,
      |      row_number() OVER (PARTITION BY x.vec_id, ct.s ORDER BY
      |        list_reduce(list_transform(range(0, 8),
      |          j -> (x.e[ct.s*8+j+1] - ct.cent[j+1])
      |             * (x.e[ct.s*8+j+1] - ct.cent[j+1])),
      |          (u, v) -> u + v) ASC, ct.c ASC) AS rn
      |    FROM e x, cent ct) WHERE rn = 1)""".stripMargin

  /** Q89 — PQ code assignment: every vector's 8-byte code under the
    * trained (seed + one Lloyd step) codebook, graded code-for-code
    * (see [[graft.operators.Similarity.pqCodes]] — a wrong seed, a
    * wrong mean, or a flipped argmin anywhere in training changes
    * codes, so the whole trainer is hash-graded).
    */
  private def q89(spark: SparkSession, dir: String): DataFrame =
    Similarity.pqCodes(Tables.embeddings(spark, dir), "vec_id", "embedding")
      .orderBy("vec_id", "subspace")

  private lazy val q89Sql =
    s"""WITH $pqCte
       |SELECT vec_id, s::BIGINT AS subspace, code::BIGINT AS code
       |FROM codes ORDER BY vec_id, subspace""".stripMargin

  /** Q90 — recall@k of PQ asymmetric-distance retrieval against q78's
    * brute-force ground truth — the q79/q86 evaluation applied to the
    * third index family (see
    * [[graft.operators.Similarity.pqTopKBatch]]): how much exact recall
    * 8-byte codes keep. The oracle restates the full codebook training,
    * the per-subspace ADC folds summed in subspace order, the true-norm
    * cosine normalization, both top-k re-ranks, and the recall
    * arithmetic.
    */
  private def q90(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < QuerySample)
    Similarity.recallAtK(
        Similarity.topKBatch(emb, "vec_id", "embedding", qs, "vec_id", RecallK),
        Similarity.pqTopKBatch(emb, "vec_id", "embedding", qs, "vec_id", RecallK),
        "query_id", "vec_id")
      .orderBy("query_id")
  }

  private lazy val q90Sql =
    s"""WITH $pqCte,
       |q AS MATERIALIZED (
       |  SELECT vec_id AS query_id, e AS qe,
       |         sqrt(list_reduce(list_transform(e, x -> x*x),
       |              (u, v) -> u + v)) AS nq
       |  FROM e WHERE vec_id < $QuerySample),
       |nx AS MATERIALIZED (
       |  SELECT vec_id, sqrt(list_reduce(list_transform(e, x -> x*x),
       |                      (u, v) -> u + v)) AS nx
       |  FROM e),
       |sx AS (SELECT q.query_id, e.vec_id,
       |              round(${PipelineQueries.cosSql("e.e", "qe")}, 6) AS cos_sim
       |       FROM e, q),
       |exr AS (SELECT query_id, vec_id, row_number() OVER (
       |            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
       |        FROM sx),
       |ext AS (SELECT query_id, vec_id FROM exr WHERE rk <= $RecallK),
       |ips AS (SELECT q.query_id, cd.vec_id, cd.s,
       |          list_reduce(list_transform(range(0, 8),
       |            j -> q.qe[cd.s*8+j+1] * ct.cent[j+1]), (u, v) -> u + v) AS ip
       |        FROM codes cd JOIN cent ct ON ct.s = cd.s AND ct.c = cd.code, q),
       |tot AS (SELECT query_id, vec_id,
       |          list_reduce(list(ip ORDER BY s), (u, v) -> u + v) AS adc
       |        FROM ips GROUP BY 1, 2),
       |aps AS (SELECT t.query_id, t.vec_id,
       |          round(t.adc / (nx.nx * q.nq), 6) AS cos_sim
       |        FROM tot t JOIN nx USING (vec_id)
       |                   JOIN q ON q.query_id = t.query_id),
       |apr AS (SELECT query_id, vec_id, row_number() OVER (
       |            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
       |        FROM aps),
       |apt AS (SELECT query_id, vec_id FROM apr WHERE rk <= $RecallK),
       |h AS (SELECT apt.query_id, count(*)::BIGINT AS n_hit
       |      FROM apt JOIN ext ON apt.query_id = ext.query_id
       |                       AND apt.vec_id = ext.vec_id
       |      GROUP BY 1),
       |t AS (SELECT query_id, count(*)::BIGINT AS n_exact FROM ext
       |      GROUP BY 1)
       |SELECT t.query_id, t.n_exact, coalesce(h.n_hit, 0)::BIGINT AS n_hit,
       |       round(coalesce(h.n_hit, 0) / t.n_exact, 6) AS recall
       |FROM t LEFT JOIN h USING (query_id) ORDER BY query_id""".stripMargin

  /** Q93 — duplicated-span EXCISION: every doc's surviving text after
    * removing tokens covered by cross-document duplicated 5-grams whose
    * canonical owner is another doc — exactly one copy of each
    * duplicated span survives corpus-wide (see
    * [[graft.operators.Curation.exciseDuplicateSpans]]; the apply step
    * of q81's signal). Graded text-for-text.
    */
  private def q93(spark: SparkSession, dir: String): DataFrame =
    QueryDefs.orderByOnce(
      Curation.exciseDuplicateSpans(Tables.documents(spark, dir),
        "doc_id", "text", n = 5), col("doc_id"))

  // `WHERE text IS NOT NULL` pins the null-text contract (q73's rule):
  // a null-text doc has no token rows in Spark and must not be
  // resurrected by the final LEFT JOIN from `d`
  private val q93Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL),
      |occ AS (SELECT doc_id,
      |               unnest(range(1, len(toks) - 3)) - 1 AS p,
      |               unnest(list_transform(range(1, len(toks) - 3),
      |                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
      |                                toks[i+3], toks[i+4]))) AS g
      |        FROM d),
      |st AS (SELECT g, count(DISTINCT doc_id) AS df, min(doc_id) AS owner
      |       FROM occ GROUP BY 1),
      |cov AS (SELECT DISTINCT o.doc_id, o.p + u.i AS t
      |        FROM occ o JOIN st USING (g), range(0, 5) u(i)
      |        WHERE st.df >= 2 AND st.owner != o.doc_id),
      |tok AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS t,
      |               unnest(toks) AS tok FROM d),
      |kept AS (SELECT tok.doc_id, tok.t, tok.tok
      |         FROM tok LEFT JOIN cov ON cov.doc_id = tok.doc_id
      |                                AND cov.t = tok.t
      |         WHERE cov.t IS NULL),
      |ka AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
      |              array_to_string(list(tok ORDER BY t), ' ') AS kept_text
      |       FROM kept GROUP BY 1)
      |SELECT d.doc_id, len(d.toks)::BIGINT AS n_tokens,
      |       (len(d.toks) - coalesce(ka.n_kept, 0))::BIGINT AS n_removed,
      |       coalesce(ka.kept_text, '') AS kept_text
      |FROM d LEFT JOIN ka USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Q95 — benchmark-span EXCISION: the "excise the span" policy fork
    * of decontamination — tokens covered by a benchmark-matching
    * 5-gram are removed, the rest of the document survives (see
    * [[graft.operators.Curation.exciseContaminatedSpans]]; same
    * benchmark cut as q57/q73). Graded text-for-text.
    */
  private def q95(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    QueryDefs.orderByOnce(Curation.exciseContaminatedSpans(
        QueryDefs.spreadInput(docs.filter(col("doc_id") >= BenchCut),
          col("doc_id")),
        docs.filter(col("doc_id") < BenchCut),
        "doc_id", "text", n = 5), col("doc_id"))
  }

  private val q95Sql =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
       |           FROM documents WHERE text IS NOT NULL),
       |bg AS (SELECT DISTINCT unnest(list_distinct(list_transform(
       |           range(1, len(toks) - 3),
       |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
       |                          toks[i+3], toks[i+4])))) AS g
       |       FROM d WHERE doc_id < $BenchCut),
       |occ AS (SELECT doc_id,
       |               unnest(range(1, len(toks) - 3)) - 1 AS p,
       |               unnest(list_transform(range(1, len(toks) - 3),
       |                 i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
       |                                toks[i+3], toks[i+4]))) AS g
       |        FROM d WHERE doc_id >= $BenchCut),
       |cov AS (SELECT DISTINCT o.doc_id, o.p + u.i AS t
       |        FROM occ o JOIN bg USING (g), range(0, 5) u(i)),
       |tok AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS t,
       |               unnest(toks) AS tok
       |        FROM d WHERE doc_id >= $BenchCut),
       |kept AS (SELECT tok.doc_id, tok.t, tok.tok
       |         FROM tok LEFT JOIN cov ON cov.doc_id = tok.doc_id
       |                                AND cov.t = tok.t
       |         WHERE cov.t IS NULL),
       |ka AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
       |              array_to_string(list(tok ORDER BY t), ' ') AS kept_text
       |       FROM kept GROUP BY 1)
       |SELECT d.doc_id, len(d.toks)::BIGINT AS n_tokens,
       |       (len(d.toks) - coalesce(ka.n_kept, 0))::BIGINT AS n_removed,
       |       coalesce(ka.kept_text, '') AS kept_text
       |FROM d LEFT JOIN ka USING (doc_id)
       |WHERE d.doc_id >= $BenchCut ORDER BY doc_id""".stripMargin

  /** Temperature for the q94 rebalancing (the mT5/XLM-R range). */
  private val MixAlpha = 0.7

  /** Q94 — temperature-scaled mixture weights: per-language natural
    * token share, `p^α`-flattened target share (α = 0.7), and the
    * resulting up/down-sampling weight, targets DERIVED from the
    * corpus rather than hand-written (see
    * [[graft.operators.Curation.temperatureWeights]]).
    */
  private def q94(spark: SparkSession, dir: String): DataFrame =
    Curation.temperatureWeights(Tables.documents(spark, dir), "lang",
        TextFns.tokenCount(col("text")), alpha = MixAlpha)
      .orderBy("lang")

  private val q94Sql =
    s"""WITH s AS (SELECT lang, count(*) AS n_docs,
       |             sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
       |           FROM documents GROUP BY 1),
       |tot AS (SELECT sum(n_tokens)::BIGINT AS tt FROM s),
       |sc AS (SELECT s.lang, s.n_docs, s.n_tokens, tot.tt,
       |              s.n_tokens / tot.tt AS share,
       |              pow(s.n_tokens / tot.tt, $MixAlpha) AS scaled
       |       FROM s, tot),
       |z AS (SELECT list_reduce(list(scaled ORDER BY lang),
       |             (u, v) -> u + v) AS z FROM sc)
       |SELECT lang, n_docs::BIGINT AS n_docs, n_tokens,
       |       round(share, 6) AS natural_share,
       |       round(scaled / z.z, 6) AS target_share,
       |       round((scaled / z.z) * tt / n_tokens, 6) AS weight
       |FROM sc, z ORDER BY lang""".stripMargin

  /** Q96 — the corpus health report: doc/token totals, mean length,
    * exact-duplicate rate, benchmark-contamination rate, and per-language
    * shares as one long (metric, value) frame (see
    * [[graft.operators.Curation.corpusReport]]; same benchmark cut as
    * q57/q73).
    */
  private def q96(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Curation.corpusReport(
        docs.filter(col("doc_id") >= BenchCut),
        docs.filter(col("doc_id") < BenchCut),
        "doc_id", "text", "lang", n = 5)
      .orderBy("metric")
  }

  private val q96Sql =
    s"""WITH c AS (SELECT * FROM documents WHERE doc_id >= $BenchCut),
       |base AS (SELECT count(*)::BIGINT AS n_docs,
       |                sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
       |                count(DISTINCT md5(trim(regexp_replace(lower(text),
       |                  '\\s+', ' ', 'g'))))::BIGINT AS n_distinct
       |         FROM c),
       |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |          range(1, len(toks) - 3),
       |          i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
       |                         toks[i+3], toks[i+4])))) AS g
       |      FROM d),
       |b AS (SELECT DISTINCT g FROM g WHERE doc_id < $BenchCut),
       |cont AS (SELECT count(DISTINCT g.doc_id)::BIGINT AS n_cont
       |         FROM g JOIN b USING (g) WHERE g.doc_id >= $BenchCut),
       |global AS (
       |  SELECT 'n_docs' AS metric, n_docs::DOUBLE AS value FROM base
       |  UNION ALL SELECT 'n_tokens', n_tokens::DOUBLE FROM base
       |  UNION ALL SELECT 'avg_doc_tokens', round(n_tokens / n_docs, 6)
       |            FROM base
       |  UNION ALL SELECT 'exact_dup_rate',
       |            round(1.0 - n_distinct / n_docs, 6) FROM base
       |  UNION ALL SELECT 'contaminated_rate',
       |            round(cont.n_cont / base.n_docs, 6) FROM base, cont),
       |strata AS (SELECT 'share_' || lang AS metric,
       |                  round(count(*) / (SELECT n_docs FROM base), 6)
       |                    AS value
       |           FROM c GROUP BY lang)
       |SELECT metric, value FROM global
       |UNION ALL SELECT metric, value FROM strata
       |ORDER BY metric""".stripMargin

  /** Hash buckets for the q97/q98 DSIR feature space. */
  private val DsirBuckets = 1024

  /** Sample size for the q98 DSIR resampling step. */
  private val DsirK = 40

  /** Q97 — DSIR importance weights (Xie et al. 2023): every document's
    * hashed-bigram log importance weight against a target domain
    * (source `src0` plays the curated target), the score the DSIR
    * selection policy ranks by (see
    * [[graft.operators.Curation.dsirWeights]]).
    */
  private def q97(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Curation.dsirWeights(docs, docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 2, buckets = DsirBuckets)
      .orderBy("doc_id")
  }

  /** The q97 weight computation as a DuckDB CTE chain, shared by the
    * q98 oracle (which selects over the same weights). */
  private val dsirWeightCtes =
    s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks
       |           FROM documents WHERE text IS NOT NULL),
       |f AS (SELECT doc_id, source,
       |             ('0x' || substr(md5('dsir:' || g), 1, 15))::BIGINT
       |               % $DsirBuckets AS b
       |      FROM (SELECT doc_id, source,
       |                   unnest(list_transform(range(1, len(toks)),
       |                     i -> concat_ws(' ', toks[i], toks[i+1]))) AS g
       |            FROM d)),
       |dc AS (SELECT doc_id, b, count(*)::BIGINT AS c FROM f GROUP BY 1, 2),
       |raw AS (SELECT b, sum(c)::BIGINT AS cr FROM dc GROUP BY 1),
       |tgt AS (SELECT b, count(*)::BIGINT AS ct FROM f
       |        WHERE source = 'src0' GROUP BY 1),
       |tot AS (SELECT (SELECT sum(cr) FROM raw)::DOUBLE AS rt,
       |               (SELECT sum(ct) FROM tgt)::DOUBLE AS tt),
       |lam AS (SELECT raw.b,
       |               ln((coalesce(tgt.ct, 0) + 1.0)
       |                  / (tot.tt + $DsirBuckets.0))
       |             - ln((raw.cr + 1.0) / (tot.rt + $DsirBuckets.0)) AS lam
       |        FROM raw LEFT JOIN tgt USING (b), tot),
       |w AS (SELECT dc.doc_id, sum(dc.c)::BIGINT AS n_feats,
       |             list_reduce(list(dc.c * lam.lam ORDER BY dc.b),
       |                         (u, v) -> u + v) AS s
       |      FROM dc JOIN lam USING (b) GROUP BY 1),
       |wt AS (SELECT d.doc_id, coalesce(w.n_feats, 0)::BIGINT AS n_feats,
       |              round(coalesce(w.s, 0.0), 6) AS dsir_logw
       |       FROM d LEFT JOIN w USING (doc_id))""".stripMargin

  private val q97Sql =
    s"""$dsirWeightCtes
       |SELECT doc_id, n_feats, dsir_logw FROM wt ORDER BY doc_id""".stripMargin

  /** Q98 — DSIR selection: Gumbel-top-k importance resampling over the
    * q97 weights — the k docs that survive the DSIR draw, with their
    * (deterministic) sample keys (see
    * [[graft.operators.Curation.dsirSelect]]).
    */
  private def q98(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Curation.dsirSelect(
        Curation.dsirWeights(docs, docs.filter(col("source") === "src0"),
          "doc_id", "text", n = 2, buckets = DsirBuckets),
        "doc_id", k = DsirK)
      .orderBy("doc_id")
  }

  private val q98Sql =
    s"""$dsirWeightCtes
       |SELECT doc_id, n_feats, dsir_logw, sample_key FROM (
       |  SELECT doc_id, n_feats, dsir_logw,
       |         round(ln(-ln((('0x' || substr(md5('dsir-sel:'
       |                  || doc_id::VARCHAR), 1, 15))::BIGINT + 0.5)
       |                  / 1.152921504606846976e18))
       |               - dsir_logw, 6) AS sample_key
       |  FROM wt ORDER BY sample_key ASC, doc_id LIMIT $DsirK)
       |ORDER BY doc_id""".stripMargin

  /** q101 retrieval depth / BM25 hyperparameters (the Robertson
    * defaults). */
  private val BmK = 5
  private val BmK1 = 1.2
  private val BmB = 0.75

  /** Query cut for q101: the lowest-id docs play the query set, the
    * rest the corpus (the q78 batched-retrieval convention). */
  private val BmQueryCut = 10

  /** Q101 — BM25 lexical retrieval: top-5 corpus documents per query
    * doc under Okapi BM25 with the Lucene positive idf (see
    * [[graft.functions.Bm25]]) — the term-based retrieval family next
    * to the embedding indexes of q78/q84.
    */
  private def q101(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Bm25.topK(docs.filter(col("doc_id") >= BmQueryCut), "doc_id", "text",
        docs.filter(col("doc_id") < BmQueryCut), "doc_id", "text",
        k = BmK, k1 = BmK1, b = BmB)
      .orderBy("query_id", "rank")
  }

  private val q101Sql =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
       |           FROM documents WHERE text IS NOT NULL),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
       |       FROM (SELECT doc_id, unnest(toks) AS term FROM d
       |             WHERE doc_id >= $BmQueryCut)
       |       GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tf GROUP BY 1),
       |dfx AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       |tot AS (SELECT count(*)::DOUBLE AS n,
       |               sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dl),
       |qt AS (SELECT DISTINCT doc_id AS query_id, unnest(toks) AS term
       |       FROM d WHERE doc_id < $BmQueryCut),
       |sc AS (SELECT qt.query_id, tf.doc_id,
       |              list_reduce(list(
       |                ln(1.0 + (tot.n - dfx.df + 0.5) / (dfx.df + 0.5))
       |                  * (tf.tf * ${BmK1 + 1.0})
       |                  / (tf.tf + $BmK1 * (${1.0 - BmB}
       |                       + $BmB * dl.dl / tot.avgdl))
       |                ORDER BY tf.term), (x, y) -> x + y) AS s
       |       FROM tf JOIN dfx USING (term)
       |            JOIN dl ON dl.doc_id = tf.doc_id
       |            JOIN qt USING (term), tot
       |       GROUP BY 1, 2),
       |r AS (SELECT query_id, doc_id, round(s, 6) AS bm25,
       |             row_number() OVER (PARTITION BY query_id
       |                ORDER BY round(s, 6) DESC, doc_id) AS rank
       |      FROM sc)
       |SELECT query_id, doc_id, rank::BIGINT AS rank, bm25 FROM r
       |WHERE rank <= $BmK ORDER BY query_id, rank""".stripMargin

  /** Q103 — DSIR scoring as a stateless per-row kernel: the q97
    * algorithm with both bucket models frozen at build time and the
    * log-ratio sum computed in-row over the document's grams (see
    * [[graft.operators.Curation.dsirScoreRowwise]]) — the stream-safe
    * twin, graded by its own gram-order oracle (the batch path folds
    * in bucket order over aggregated counts; same values up to final
    * ulps, different association).
    */
  private def q103(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Curation.dsirScoreRowwise(docs, docs,
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 2, buckets = DsirBuckets)
      .orderBy("doc_id")
  }

  private val q103Sql =
    s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks
       |           FROM documents WHERE text IS NOT NULL),
       |f AS (SELECT doc_id, source, p,
       |             ('0x' || substr(md5('dsir:' || g), 1, 15))::BIGINT
       |               % $DsirBuckets AS b
       |      FROM (SELECT doc_id, source,
       |                   unnest(range(1, len(toks))) AS p,
       |                   unnest(list_transform(range(1, len(toks)),
       |                     i -> concat_ws(' ', toks[i], toks[i+1]))) AS g
       |            FROM d)),
       |raw AS (SELECT b, count(*)::BIGINT AS cr FROM f GROUP BY 1),
       |tgt AS (SELECT b, count(*)::BIGINT AS ct FROM f
       |        WHERE source = 'src0' GROUP BY 1),
       |tot AS (SELECT (SELECT coalesce(sum(cr), 0) FROM raw)::DOUBLE AS rt,
       |               (SELECT coalesce(sum(ct), 0) FROM tgt)::DOUBLE AS tt),
       |lam AS (SELECT r.i AS b,
       |               ln((coalesce(tgt.ct, 0) + 1.0)
       |                  / (tot.tt + $DsirBuckets.0))
       |             - ln((coalesce(raw.cr, 0) + 1.0)
       |                  / (tot.rt + $DsirBuckets.0)) AS lam
       |        FROM range(0, $DsirBuckets) r(i)
       |             LEFT JOIN raw ON raw.b = r.i
       |             LEFT JOIN tgt ON tgt.b = r.i, tot),
       |w AS (SELECT f.doc_id, count(*)::BIGINT AS n_feats,
       |             list_reduce(list(lam.lam ORDER BY f.p),
       |                         (x, y) -> x + y) AS s
       |      FROM f JOIN lam USING (b) GROUP BY 1)
       |SELECT d.doc_id, coalesce(w.n_feats, 0)::BIGINT AS n_feats,
       |       round(coalesce(w.s, 0.0), 6) AS dsir_logw
       |FROM d LEFT JOIN w USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Q102 — reciprocal-rank fusion of the LSH and IVF ANN rankings for
    * the q78 query sample (see [[graft.operators.Fusion.rrf]]): the
    * calibration-free combiner that lifts recall above either index
    * alone when their miss sets differ — graded on the fused ranking
    * itself.
    */
  private def q102(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < QuerySample)
    Fusion.rrf(Seq(
        Similarity.lshTopKBatch(emb, "vec_id", "embedding", qs, "vec_id",
          RecallK),
        Similarity.ivfTopKBatch(emb, "vec_id", "embedding", qs, "vec_id",
          RecallK, nCentroids = PipelineQueries.IvfCentroids,
          nProbe = PipelineQueries.IvfProbes)),
        "query_id", "vec_id", "cos_sim", k = RecallK)
      .orderBy("query_id", "rank")
  }

  private lazy val q102Sql =
    s"""WITH ${PipelineQueries.lshBandsSql},
       |q AS (SELECT vec_id AS query_id, e AS qe FROM e
       |      WHERE vec_id < $QuerySample),
       |qb AS (SELECT vec_id AS query_id, band FROM bands
       |       WHERE vec_id < $QuerySample),
       |cand AS (SELECT DISTINCT qb.query_id, b.vec_id
       |         FROM bands b JOIN qb USING (band)),
       |aps AS (SELECT c.query_id, c.vec_id,
       |               round(${PipelineQueries.cosSql("ce.e", "qe")}, 6) AS cos_sim
       |        FROM cand c JOIN e ce ON ce.vec_id = c.vec_id
       |                    JOIN q ON q.query_id = c.query_id),
       |lt AS (SELECT query_id, vec_id, rk FROM (
       |         SELECT query_id, vec_id, row_number() OVER (
       |             PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
       |         FROM aps) WHERE rk <= $RecallK),
       |cents AS (SELECT vec_id AS cent, e AS ce FROM e
       |          ORDER BY vec_id LIMIT ${PipelineQueries.IvfCentroids}),
       |aff AS (SELECT e.vec_id, c.cent,
       |               ${PipelineQueries.cosSql("e.e", "c.ce")} AS cs
       |        FROM e, cents c),
       |cell AS (SELECT vec_id, cent AS cell FROM (
       |           SELECT vec_id, cent, row_number() OVER (
       |             PARTITION BY vec_id ORDER BY (0.0 - cs), cent) AS rn
       |           FROM aff) WHERE rn = 1),
       |qprobes AS (SELECT vec_id AS query_id, cent AS cell FROM (
       |              SELECT vec_id, cent, row_number() OVER (
       |                PARTITION BY vec_id ORDER BY (0.0 - cs), cent) AS rn
       |              FROM aff WHERE vec_id < $QuerySample)
       |            WHERE rn <= ${PipelineQueries.IvfProbes}),
       |ivs AS (SELECT qp.query_id, e.vec_id,
       |               round(${PipelineQueries.cosSql("e.e", "qe")}, 6) AS cos_sim
       |        FROM e JOIN cell USING (vec_id)
       |               JOIN qprobes qp ON cell.cell = qp.cell
       |               JOIN q ON q.query_id = qp.query_id),
       |it AS (SELECT query_id, vec_id, rk FROM (
       |         SELECT query_id, vec_id, row_number() OVER (
       |             PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
       |         FROM ivs) WHERE rk <= $RecallK),
       |f AS (SELECT coalesce(lt.query_id, it.query_id) AS query_id,
       |             coalesce(lt.vec_id, it.vec_id) AS vec_id,
       |             round(coalesce(1.0 / (60 + lt.rk), 0.0)
       |                 + coalesce(1.0 / (60 + it.rk), 0.0), 6) AS rrf
       |      FROM lt FULL JOIN it ON lt.query_id = it.query_id
       |                          AND lt.vec_id = it.vec_id),
       |r AS (SELECT query_id, vec_id, rrf, row_number() OVER (
       |          PARTITION BY query_id ORDER BY rrf DESC, vec_id) AS rank
       |      FROM f)
       |SELECT query_id, vec_id, rank::BIGINT AS rank, rrf FROM r
       |WHERE rank <= $RecallK ORDER BY query_id, rank""".stripMargin

  /** Mask rate (percent) for the q107 span corruption. */
  private val CorruptPct = 15

  /** Q107 — T5-style span corruption: the corpus as denoising
    * (input, target) pairs — hash-deterministic masking, consecutive
    * masked tokens collapsed to sentinels, targets closed by the final
    * sentinel (see [[graft.operators.Curation.spanCorrupt]]) — graded
    * string-for-string.
    */
  private def q107(spark: SparkSession, dir: String): DataFrame =
    QueryDefs.orderByOnce(
      Curation.spanCorrupt(
        QueryDefs.spreadInput(Tables.documents(spark, dir), col("doc_id")),
        "doc_id", "text", ratePct = CorruptPct), col("doc_id"))

  private val q107Sql =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
       |           FROM documents WHERE text IS NOT NULL),
       |t AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
       |             unnest(toks) AS tok
       |      FROM d),
       |m AS (SELECT doc_id, pos, tok,
       |             (('0x' || substr(md5('t5span:' || doc_id || '_' || pos),
       |                              1, 15))::BIGINT % 100) < $CorruptPct
       |               AS mask
       |      FROM t),
       |s AS (SELECT *, mask AND NOT coalesce(
       |               lag(mask) OVER (PARTITION BY doc_id ORDER BY pos),
       |               false) AS span_start
       |      FROM m),
       |x AS (SELECT *, (sum(CASE WHEN span_start THEN 1 ELSE 0 END)
       |                 OVER (PARTITION BY doc_id ORDER BY pos))::BIGINT - 1
       |               AS span_idx
       |      FROM s),
       |p AS (SELECT doc_id, pos, mask, span_start,
       |             CASE WHEN NOT mask THEN tok
       |                  WHEN span_start THEN '<extra_id_' || span_idx || '>'
       |                  ELSE '' END AS in_piece,
       |             CASE WHEN mask AND span_start
       |                    THEN '<extra_id_' || span_idx || '> ' || tok
       |                  WHEN mask THEN tok
       |                  ELSE '' END AS tgt_piece
       |      FROM x)
       |SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |       (count(*) FILTER (WHERE mask))::BIGINT AS n_masked,
       |       (count(*) FILTER (WHERE span_start))::BIGINT AS n_spans,
       |       coalesce(string_agg(in_piece, ' ' ORDER BY pos)
       |                FILTER (WHERE in_piece != ''), '') AS input_text,
       |       coalesce(string_agg(tgt_piece, ' ' ORDER BY pos)
       |                FILTER (WHERE tgt_piece != ''), '')
       |         || CASE WHEN count(*) FILTER (WHERE mask) > 0
       |                 THEN ' ' ELSE '' END
       |         || '<extra_id_' || count(*) FILTER (WHERE span_start) || '>'
       |         AS target_text
       |FROM p GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** Q142 — recall@k of SQ8 (int8 scalar-quantized) asymmetric
    * retrieval against q78's brute-force ground truth — the q79/q86/q90
    * evaluation applied to the fourth index family (see
    * [[graft.operators.Similarity.sq8TopKBatch]]): how much exact
    * recall a 4×-compressed flat index keeps. The oracle restates the
    * per-dimension [min, max] model, the quantize→reconstruct round
    * trip, both top-k re-ranks, and the recall arithmetic.
    */
  private def q142(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < QuerySample)
    Similarity.recallAtK(
        Similarity.topKBatch(emb, "vec_id", "embedding", qs, "vec_id", RecallK),
        Similarity.sq8TopKBatch(emb, "vec_id", "embedding", qs, "vec_id",
          RecallK),
        "query_id", "vec_id")
      .orderBy("query_id")
  }

  private lazy val q142Sql =
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |x AS (SELECT vec_id, i AS pos, embedding[i + 1]::DOUBLE AS v
       |      FROM embeddings CROSS JOIN range(0, 64) t(i)),
       |st AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM x GROUP BY 1),
       |sa AS (SELECT list(mn ORDER BY pos) AS mn,
       |              list(mx ORDER BY pos) AS mx FROM st),
       |r AS (SELECT e.vec_id, list_transform(range(0, 64), i ->
       |        CASE WHEN sa.mx[i + 1] > sa.mn[i + 1]
       |             THEN sa.mn[i + 1]
       |                  + floor((e.e[i + 1] - sa.mn[i + 1]) * 255.0
       |                          / (sa.mx[i + 1] - sa.mn[i + 1]) + 0.5)
       |                    * (sa.mx[i + 1] - sa.mn[i + 1]) / 255.0
       |             ELSE sa.mn[i + 1] END) AS re
       |      FROM e, sa),
       |q AS (SELECT vec_id AS query_id, e AS qe FROM e
       |      WHERE vec_id < $QuerySample),
       |sx AS (SELECT q.query_id, e.vec_id,
       |              round(${PipelineQueries.cosSql("e.e", "qe")}, 6) AS cos_sim
       |       FROM e, q),
       |exr AS (SELECT query_id, vec_id, row_number() OVER (
       |            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
       |        FROM sx),
       |ext AS (SELECT query_id, vec_id FROM exr WHERE rk <= $RecallK),
       |aps AS (SELECT q.query_id, r.vec_id,
       |              round(${PipelineQueries.cosSql("r.re", "qe")}, 6) AS cos_sim
       |        FROM r, q),
       |apr AS (SELECT query_id, vec_id, row_number() OVER (
       |            PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
       |        FROM aps),
       |apt AS (SELECT query_id, vec_id FROM apr WHERE rk <= $RecallK),
       |h AS (SELECT apt.query_id, count(*)::BIGINT AS n_hit
       |      FROM apt JOIN ext ON apt.query_id = ext.query_id
       |                       AND apt.vec_id = ext.vec_id
       |      GROUP BY 1),
       |t AS (SELECT query_id, count(*)::BIGINT AS n_exact FROM ext
       |      GROUP BY 1)
       |SELECT t.query_id, t.n_exact, coalesce(h.n_hit, 0)::BIGINT AS n_hit,
       |       round(coalesce(h.n_hit, 0) / t.n_exact, 6) AS recall
       |FROM t LEFT JOIN h USING (query_id) ORDER BY query_id""".stripMargin

  /** Q143 — content-defined-chunking duplicate census: per document,
    * how many of its CDC chunks (boundary after every token whose
    * portable hash ≡ 0 mod 8) already occurred earlier in the corpus,
    * and what token fraction they cover (see
    * [[graft.operators.Dedup.cdcChunkStats]]). The oracle restates the
    * boundary rule, the running-sum chunk ids, chunk hashing, and the
    * first-occurrence rank.
    */
  private def q143(spark: SparkSession, dir: String): DataFrame =
    Dedup.cdcChunkStats(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  private val q143Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL),
      |tok AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS t,
      |               unnest(toks) AS tok
      |        FROM d),
      |f AS (SELECT doc_id, t, tok,
      |             CASE WHEN ('0x' || substr(md5('cdc:' || tok), 1, 15))
      |                       ::BIGINT % 8 = 0
      |                  THEN 1 ELSE 0 END AS brk
      |      FROM tok),
      |c AS (SELECT doc_id, t, tok,
      |             sum(brk) OVER (PARTITION BY doc_id ORDER BY t
      |                            ROWS UNBOUNDED PRECEDING) - brk AS chunk
      |      FROM f),
      |ch AS (SELECT doc_id, chunk, count(*)::BIGINT AS c_len,
      |              md5(string_agg(tok, ' ' ORDER BY t)) AS h
      |       FROM c GROUP BY 1, 2),
      |m AS (SELECT *, row_number() OVER (PARTITION BY h
      |               ORDER BY doc_id, chunk) AS rn
      |      FROM ch)
      |SELECT doc_id, count(*)::BIGINT AS n_chunks,
      |       sum(c_len)::BIGINT AS n_tokens,
      |       sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks,
      |       sum(CASE WHEN rn > 1 THEN c_len ELSE 0 END)::BIGINT AS dup_tokens,
      |       round(sum(CASE WHEN rn > 1 THEN c_len ELSE 0 END)
      |             / sum(c_len), 6) AS dup_frac
      |FROM m GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** Q150 — duplicate-CHUNK excision: q143's census applied — every CDC
    * chunk occurrence after the corpus-wide first is dropped and each
    * document reassembled from its surviving chunks (see
    * [[graft.operators.Dedup.exciseDuplicateChunks]]; q93's policy at
    * chunk granularity, one hash + one window row per token instead of
    * n per-position coverage rows). The oracle restates chunking,
    * first-occurrence ranks, and the reassembly with its
    * collapsed-separator convention.
    */
  private def q150(spark: SparkSession, dir: String): DataFrame =
    Dedup.exciseDuplicateChunks(Tables.documents(spark, dir),
        "doc_id", "text")
      .orderBy("doc_id")

  private val q150Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL),
      |tok AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS t,
      |               unnest(toks) AS tok
      |        FROM d),
      |f AS (SELECT doc_id, t, tok,
      |             CASE WHEN ('0x' || substr(md5('cdc:' || tok), 1, 15))
      |                       ::BIGINT % 8 = 0
      |                  THEN 1 ELSE 0 END AS brk
      |      FROM tok),
      |c AS (SELECT doc_id, t, tok,
      |             sum(brk) OVER (PARTITION BY doc_id ORDER BY t
      |                            ROWS UNBOUNDED PRECEDING) - brk AS chunk
      |      FROM f),
      |ch AS (SELECT doc_id, chunk, count(*)::BIGINT AS c_len,
      |              string_agg(tok, ' ' ORDER BY t) AS txt
      |       FROM c GROUP BY 1, 2),
      |h AS (SELECT *, md5(txt) AS h FROM ch),
      |m AS (SELECT *, row_number() OVER (PARTITION BY h
      |               ORDER BY doc_id, chunk) AS rn
      |      FROM h)
      |SELECT doc_id, sum(c_len)::BIGINT AS n_tokens,
      |       sum(CASE WHEN rn > 1 THEN c_len ELSE 0 END)::BIGINT
      |         AS n_removed,
      |       trim(regexp_replace(string_agg(
      |         CASE WHEN rn = 1 THEN txt ELSE '' END, ' ' ORDER BY chunk),
      |         ' +', ' ', 'g')) AS kept_text
      |FROM m GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** The RHO selection size. */
  private val RhoM = 100

  /** Q144 — RHO-loss-style excess-loss selection: the top documents by
    * `ce_train − ce_ref`, where ce_train scores under the self-corpus
    * unigram distribution and ce_ref under the src0 reference model's
    * add-1-smoothed distribution (see
    * [[graft.operators.Curation.rhoSelection]]). The oracle restates
    * both entropies with term-order-pinned folds and the top-m cut.
    */
  private def q144(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Curation.rhoSelection(docs, "doc_id", "text",
        docs.filter(col("source") === "src0"), "text", m = RhoM)
      .orderBy(col("excess").desc, col("doc_id"))
  }

  /** The RHO scoring CTE prefix shared by q144 and q153: per-doc
    * ce_train / ce_ref / excess against the src0 reference model.
    */
  private val rhoCte =
    """tf AS (SELECT doc_id, term, count(*) AS c
      |            FROM (SELECT doc_id, unnest(string_split(text, ' '))
      |                           AS term
      |                  FROM documents)
      |            GROUP BY 1, 2),
      |tot AS (SELECT sum(c)::DOUBLE AS tt FROM tf),
      |ct AS (SELECT term, sum(c)::BIGINT AS ct FROM tf GROUP BY 1),
      |ru AS (SELECT term, count(*)::BIGINT AS cm
      |       FROM (SELECT unnest(string_split(text, ' ')) AS term
      |             FROM documents WHERE source = 'src0')
      |       GROUP BY 1),
      |nv AS (SELECT sum(cm)::DOUBLE AS nm, count(*)::DOUBLE AS vm FROM ru),
      |s AS (SELECT tf.doc_id, tf.term, tf.c,
      |             tf.c * ln(ct.ct / tot.tt) AS tr,
      |             tf.c * ln((coalesce(ru.cm, 0) + 1) / (nv.nm + nv.vm))
      |               AS rf
      |      FROM tf JOIN ct USING (term)
      |               LEFT JOIN ru USING (term), tot, nv),
      |a AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens,
      |             list(tr ORDER BY term) AS atr,
      |             list(rf ORDER BY term) AS arf
      |      FROM s GROUP BY 1),
      |f AS (SELECT doc_id, n_tokens,
      |             round(-list_reduce(atr, (u, v) -> u + v) / n_tokens, 6)
      |               AS ce_train,
      |             round(-list_reduce(arf, (u, v) -> u + v) / n_tokens, 6)
      |               AS ce_ref
      |      FROM a),
      |x AS (SELECT doc_id, n_tokens, ce_train, ce_ref,
      |             round(ce_train - ce_ref, 6) AS excess
      |      FROM f)""".stripMargin

  private lazy val q144Sql =
    s"""WITH $rhoCte
       |SELECT doc_id, n_tokens, ce_train, ce_ref, excess
       |FROM x ORDER BY excess DESC, doc_id LIMIT $RhoM""".stripMargin

  /** Q153 — DoReMi-style mixture reweighting (see
    * [[graft.operators.Curation.doremiMixture]]): per-source mean
    * excess loss over the src0 reference model, one
    * multiplicative-weights round over uniform priors. The oracle
    * restates the scoring CTE, the integer-quantized per-source sums,
    * and the stratum-order-pinned normalizer fold.
    */
  private def q153(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Curation.doremiMixture(docs, "doc_id", "source", "text",
        docs.filter(col("source") === "src0"), "text")
      .orderBy("source")
  }

  private lazy val q153Sql =
    s"""WITH $rhoCte,
       |g AS (SELECT d.source, x.excess
       |      FROM x JOIN documents d USING (doc_id)),
       |ps AS (SELECT source, count(*)::BIGINT AS n_docs,
       |              sum(floor(excess * 1e6 + 0.5)::BIGINT)::BIGINT AS eq
       |       FROM g GROUP BY 1),
       |m AS (SELECT source, n_docs,
       |             round(eq / 1e6 / n_docs, 6) AS mean_excess
       |      FROM ps),
       |e AS (SELECT source, n_docs, mean_excess,
       |             exp(1.0 * mean_excess) AS ew
       |      FROM m),
       |z AS (SELECT list_reduce(list_transform(
       |        list(struct_pack(k := source, w := ew) ORDER BY source),
       |        x -> x.w), (u, v) -> u + v) AS z FROM e)
       |SELECT source, n_docs, mean_excess,
       |       round(ew / z.z, 6) AS weight
       |FROM e, z ORDER BY source""".stripMargin

  /** Q145 — epoch-capped token-budget water-filling over sources:
    * temperature-flattened target shares, per-source repetition caps,
    * and the exact closed-form re-flow of over-cap budget (see
    * [[graft.operators.Curation.epochCapAllocation]]). The oracle
    * restates the cap-hit ordering, the prefix/suffix running sums,
    * the capped-prefix rule, and the order-pinned re-flow folds.
    */
  private def q145(spark: SparkSession, dir: String): DataFrame =
    Curation.epochCapAllocation(Tables.documents(spark, dir), "source",
        TextFns.tokenCount(col("text")))
      .orderBy("source")

  private val q145Sql =
    """WITH s AS (SELECT source,
      |             sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
      |           FROM documents GROUP BY 1),
      |tot AS (SELECT sum(n_tokens)::BIGINT AS tt FROM s),
      |sc AS (SELECT source, n_tokens,
      |              pow(n_tokens / tt, 0.5) AS w,
      |              n_tokens * 1.5 AS c,
      |              tt * 1.0 AS b,
      |              (n_tokens * 1.5) / pow(n_tokens / tt, 0.5) AS r
      |       FROM s, tot),
      |f AS (SELECT *,
      |        sum(c) OVER (ORDER BY r, source
      |                     ROWS UNBOUNDED PRECEDING) - c AS pc,
      |        sum(w) OVER (ORDER BY r DESC, source DESC
      |                     ROWS UNBOUNDED PRECEDING) AS wr
      |      FROM sc),
      |g AS (SELECT *, CASE WHEN w * (b - pc) / wr > c THEN 1 ELSE 0 END
      |               AS flag
      |      FROM f),
      |i AS (SELECT *, min(flag) OVER (ORDER BY r, source
      |                                ROWS UNBOUNDED PRECEDING) = 1
      |               AS capped
      |      FROM g),
      |rf AS (SELECT
      |         list_reduce(list_transform(
      |           list(struct_pack(k := source,
      |                cc := CASE WHEN capped THEN c ELSE 0.0 END)
      |                ORDER BY source), x -> x.cc), (u, v) -> u + v)
      |           AS c_capped,
      |         list_reduce(list_transform(
      |           list(struct_pack(k := source,
      |                wu := CASE WHEN capped THEN 0.0 ELSE w END)
      |                ORDER BY source), x -> x.wu), (u, v) -> u + v)
      |           AS w_uncapped,
      |         list_reduce(list_transform(
      |           list(struct_pack(k := source, wz := w)
      |                ORDER BY source), x -> x.wz), (u, v) -> u + v) AS z
      |       FROM i),
      |j AS (SELECT i.*, rf.z,
      |             CASE WHEN capped THEN c
      |                  ELSE w * (b - rf.c_capped) / rf.w_uncapped END
      |               AS alloc
      |      FROM i, rf)
      |SELECT source, n_tokens,
      |       round(w / z, 6) AS target_share,
      |       round(c, 6) AS cap_tokens,
      |       round(alloc, 6) AS alloc_tokens,
      |       round(alloc / n_tokens, 6) AS epochs,
      |       capped
      |FROM j ORDER BY source""".stripMargin

  /** Shared hash-embedding CTE prefix (q146/q147): tokens → signed
    * hashed dimensions → integer per-dim sums → zero-filled grid →
    * L2-normalized 64-wide vectors, all from exact integer sums.
    */
  private[queries] val hashEmbedCte =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM documents WHERE text IS NOT NULL),
      |hv AS (SELECT doc_id,
      |              ('0x' || substr(md5('he:' || tok), 1, 15))::BIGINT AS h
      |       FROM tok),
      |dm AS (SELECT doc_id, (h % 64)::INT AS j,
      |              CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS s
      |       FROM hv),
      |dv AS (SELECT doc_id, j, sum(s)::BIGINT AS v FROM dm GROUP BY 1, 2),
      |grid AS (SELECT DISTINCT doc_id FROM tok),
      |fill AS (SELECT g.doc_id, r.i::INT AS j, coalesce(dv.v, 0)::BIGINT AS v
      |         FROM grid g CROSS JOIN range(0, 64) r(i)
      |         LEFT JOIN dv ON dv.doc_id = g.doc_id AND dv.j = r.i),
      |nn AS (SELECT doc_id, sum(v * v)::BIGINT AS n2 FROM fill GROUP BY 1),
      |he AS (SELECT f.doc_id,
      |              list(CASE WHEN n2 > 0 THEN round(f.v / sqrt(n2), 6)
      |                        ELSE 0.0 END ORDER BY f.j) AS embedding
      |       FROM fill f JOIN nn USING (doc_id)
      |       GROUP BY f.doc_id)""".stripMargin

  /** Q146 — feature-hashed document embeddings (the hashing-trick
    * text→vector bridge; see
    * [[graft.operators.Similarity.hashEmbed]]): every document becomes
    * a 64-wide L2-normalized signed-hash vector with no trained model.
    * The oracle restates the hash, the sign bit, the integer sums and
    * the normalization.
    */
  private def q146(spark: SparkSession, dir: String): DataFrame =
    QueryDefs.orderByOnce(
      Similarity.hashEmbed(
        QueryDefs.spreadInput(Tables.documents(spark, dir), col("doc_id")),
        "doc_id", "text")
        .select(col("doc_id"),
          posexplode(col("embedding")).as(Seq("pos", "val")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("val")),
      col("doc_id"), col("pos"))

  private val q146Sql =
    s"""WITH $hashEmbedCte
       |SELECT doc_id, generate_subscripts(embedding, 1) - 1 AS pos,
       |       unnest(embedding) AS val
       |FROM he ORDER BY doc_id, pos""".stripMargin

  /** Q151 — the stream-safe ROWWISE twin of q146 (see
    * [[graft.operators.Similarity.hashEmbedRowwise]]; the q80/q83
    * convention): one compiled [[graft.expressions.HashEmbedVec]]
    * kernel per row, no aggregate — graded by the SAME oracle as q146,
    * which is the whole point: identical output from a narrow
    * stream-runnable projection.
    */
  private def q151(spark: SparkSession, dir: String): DataFrame =
    QueryDefs.orderByOnce(
      Similarity.hashEmbedRowwise(Tables.documents(spark, dir),
        "doc_id", "text")
      .select(col("doc_id"),
        posexplode(col("embedding")).as(Seq("pos", "val")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("val")),
      col("doc_id"), col("pos"))

  /** q154 semantic-text pair threshold: hashed embeddings of
    * reordered/duplicated-word copies keep cosine near 1; unrelated
    * word-salad docs sit far lower.
    */
  private val SemTextThreshold = 0.8

  /** Q154 — batch SEMANTIC TEXT near-dup pairs: the q37 banded-LSH
    * pair path run over q146's feature-hashed document embeddings —
    * raw text in, verified high-cosine near-dup pairs out, with no
    * trained model anywhere (the batch twin of
    * `NearDupStream.semanticCandidates`, and the semantic complement
    * to q21's lexical Jaccard pairs: bag-of-words cosine is robust to
    * token reordering that shingle Jaccard punishes). Graded
    * end-to-end: the oracle restates embedding, plane signatures,
    * banding, the candidate join and the exact re-verification.
    *
    * Band width: hashed embeddings of a SHARED-VOCABULARY corpus are
    * strongly correlated (every doc leans toward the common term
    * direction), so the graded 8-bit banding saturates its buckets —
    * measured 19.9 s at sf0.1 vs ~1 s at 12-bit bands on identical
    * output. Exactly the documented `rowsPerBand ~ log₂(n)` knob
    * (BASELINE.md), pinned here at the wide setting the degenerate
    * workload needs; the oracle restates the 10×12 banding. The pin is
    * DRIFT-GUARDED: PipelineOpSpec's "q154 drift guard" asserts the
    * bias-aware auto sizing
    * ([[graft.operators.Similarity.biasAwareRowsPerBand]]) measured on
    * this corpus resolves ≥ 12 bits, so a testdata or hash-embedding
    * change that invalidates the pinned width fails loudly instead of
    * silently re-entering the saturated regime.
    */
  private def q154(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshNearDupPairsFromSig(
        graft.queries.SharedFrames.hashEmbSignatures(spark, dir),
        threshold = SemTextThreshold, rowsPerBand = 12)
      .orderBy("id_a", "id_b")

  private lazy val q154Sql =
    s"""WITH $hashEmbedCte,
       |e AS (SELECT doc_id AS vec_id, embedding AS e FROM he),
       |${PipelineQueries.lshSigSql(rows = 12, bands = 10)},
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |         FROM bands a JOIN bands b ON a.band = b.band
       |                      AND a.vec_id < b.vec_id),
       |n AS (SELECT vec_id, e,
       |        sqrt(list_reduce(list_transform(e, x -> x*x),
       |             (x,y) -> x + y)) AS nm
       |      FROM e),
       |p AS (SELECT id_a, id_b,
       |        list_reduce(list_transform(list_zip(a.e, b.e),
       |            s -> struct_extract(s,1) * struct_extract(s,2)),
       |            (x,y) -> x + y)
       |          / (a.nm * b.nm) AS cs
       |      FROM cand JOIN n a ON a.vec_id = cand.id_a
       |                JOIN n b ON b.vec_id = cand.id_b)
       |SELECT id_a, id_b, round(cs, 6) AS cos_sim FROM p
       |WHERE cs >= $SemTextThreshold
       |ORDER BY id_a, id_b""".stripMargin

  /** q160's RESOLVED configuration on this corpus: the volume knob
    * (bias-aware width, drift-guarded ≥ 12 — the q154 pin's guard) is
    * capped by the recall constraint (widest 1-flip width holding 0.9
    * banding recall at θ = 0.8 is 12), so the composite lands on 12-bit
    * bands with multi-probe engaged at every graded/benched SF (at
    * sf0.1 the occupancy floor alone is 13, capped back to 12).
    * PipelineOpSpec's "q160 drift guard" asserts this resolution — a
    * testdata or hash-embedding change that moves it fails loudly
    * instead of silently diverging from the oracle's restatement.
    */
  private[queries] val AutoPairRows = 12
  private[queries] val AutoPairBands = 10

  /** Q160 — the DEPLOYMENT-DEFAULT composite
    * [[graft.operators.Similarity.nearDupPairsAutoFromSig]] graded
    * end-to-end (VERDICT r13 #2): corpus count + measured plane biases
    * size the band width, the recall cap bounds it, and the resolved
    * width (> 8) engages 1-flip multi-probe — the oracle restates the
    * resolved 10×12 banding with the ≤ 1-differing-plane candidate rule
    * (q156's declarative probe-set form) over the hash-embed CTE, then
    * verifies the exact cosine. Shares [[SharedFrames.hashEmbSignatures]]
    * with q154.
    */
  private def q160(spark: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairsAutoFromSig(
        graft.queries.SharedFrames.hashEmbSignatures(spark, dir),
        threshold = SemTextThreshold, recallTarget = 0.9)
      .orderBy("id_a", "id_b")

  private lazy val q160Sql =
    s"""WITH $hashEmbedCte,
       |e AS (SELECT doc_id AS vec_id, embedding AS e FROM he),
       |${PipelineQueries.lshSigSql(rows = AutoPairRows, bands = AutoPairBands)},
       |cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |         FROM sig a JOIN sig b ON a.vec_id < b.vec_id
       |         WHERE list_min(list_transform(range(0, $AutoPairBands), bb ->
       |             list_reduce(list_transform(
       |                 list_zip(a.sg[bb*$AutoPairRows+1 : bb*$AutoPairRows+$AutoPairRows],
       |                          b.sg[bb*$AutoPairRows+1 : bb*$AutoPairRows+$AutoPairRows]),
       |                 s -> CASE WHEN struct_extract(s,1) != struct_extract(s,2)
       |                      THEN 1 ELSE 0 END), (x,y) -> x + y))) <= 1),
       |n AS (SELECT vec_id, e,
       |        sqrt(list_reduce(list_transform(e, x -> x*x),
       |             (x,y) -> x + y)) AS nm
       |      FROM e),
       |p AS (SELECT id_a, id_b,
       |        list_reduce(list_transform(list_zip(a.e, b.e),
       |            s -> struct_extract(s,1) * struct_extract(s,2)),
       |            (x,y) -> x + y)
       |          / (a.nm * b.nm) AS cs
       |      FROM cand JOIN n a ON a.vec_id = cand.id_a
       |                JOIN n b ON b.vec_id = cand.id_b)
       |SELECT id_a, id_b, round(cs, 6) AS cos_sim FROM p
       |WHERE cs >= $SemTextThreshold
       |ORDER BY id_a, id_b""".stripMargin

  /** Q147 — exact cosine retrieval OVER the hashed embeddings: q78's
    * batched brute-force top-k with q146's vectors as both corpus and
    * query sides — the end-to-end demonstration that the text corpus
    * reaches the dense similarity surface without any trained model
    * (near-dup docs surface as high-cosine neighbors in hashed space).
    */
  private def q147(spark: SparkSession, dir: String): DataFrame = {
    val emb = Similarity.hashEmbed(Tables.documents(spark, dir),
      "doc_id", "text")
    Similarity.topKBatch(emb, "doc_id", "embedding",
        emb.filter(col("doc_id") < QuerySample), "doc_id", k = RecallK)
      .orderBy(col("query_id"), col("cos_sim").desc, col("doc_id"))
  }

  private lazy val q147Sql =
    s"""WITH $hashEmbedCte,
       |e AS MATERIALIZED (SELECT doc_id, embedding AS e FROM he),
       |q AS (SELECT doc_id AS query_id, e AS qe FROM e
       |      WHERE doc_id < $QuerySample),
       |s AS (SELECT q.query_id, e.doc_id,
       |             round(${PipelineQueries.cosSql("e.e", "qe")}, 6)
       |               AS cos_sim
       |      FROM e, q),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |               ORDER BY cos_sim DESC, doc_id) AS rk
       |      FROM s)
       |SELECT query_id, doc_id, cos_sim FROM r WHERE rk <= $RecallK
       |ORDER BY query_id, cos_sim DESC, doc_id""".stripMargin

  /** q158 cell count and temperature (the q94 mT5/XLM-R α). */
  private val ClusterMixCells = 8

  /** Q158 — CLUSTER-BALANCED mixture weights: the no-metadata mixture.
    * When provenance strata don't exist (one crawl dump), balance over
    * SEMANTIC cells: hashed embeddings (q146's no-model bridge) →
    * max-cosine cell over the first-[[ClusterMixCells]] seeded
    * centroids (the q50 seeding, q33's argmax, ties to the lowest
    * centroid id) → q94's temperature mixture over cells (see
    * [[graft.operators.Similarity.clusterMixtureWeights]]). Raw text
    * in, per-cell sampling weights out, no trained model and no
    * metadata anywhere — graded end-to-end with every stage restated.
    */
  private def q158(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        graft.expressions.HashEmbedVec(
          TextFns.tokens(col("text")), 64).as("embedding"))
    Similarity.clusterMixtureWeights(corpus, "doc_id", "embedding",
        TextFns.tokenCount(col("text")), k = ClusterMixCells,
        alpha = MixAlpha)
      .orderBy("cell")
  }

  /** The temperature-stats CTE tail shared by every cluster-mixture
    * oracle (q158/q159/q161) — expects a `cell(doc_id, cell)` CTE from
    * whichever assignment precedes it. */
  private lazy val clusterMixStatsTail =
    s"""d AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS nt
       |      FROM documents WHERE text IS NOT NULL),
       |s AS (SELECT cell, count(*) AS n_docs, sum(nt)::BIGINT AS n_tokens
       |      FROM cell JOIN d USING (doc_id) GROUP BY 1),
       |tot AS (SELECT sum(n_tokens)::BIGINT AS tt FROM s),
       |sc AS MATERIALIZED (SELECT s.cell, s.n_docs, s.n_tokens, tot.tt,
       |              s.n_tokens / tot.tt AS share,
       |              pow(s.n_tokens / tot.tt, $MixAlpha) AS scaled
       |       FROM s, tot),
       |z AS (SELECT list_reduce(list(scaled ORDER BY cell),
       |             (u, v) -> u + v) AS z FROM sc)""".stripMargin

  /** The shared cell-assignment + temperature-stats CTE block of the
    * cluster-mixture pair (q158 weights, q159 execution). */
  private lazy val clusterMixCte =
    s"""$hashEmbedCte,
       |e AS MATERIALIZED (SELECT doc_id, embedding AS e FROM he),
       |c AS (SELECT doc_id AS cent, e AS ce FROM e
       |      WHERE doc_id IN (SELECT doc_id FROM e ORDER BY doc_id
       |                       LIMIT $ClusterMixCells)),
       |aff AS (SELECT e.doc_id, c.cent,
       |               ${PipelineQueries.cosSql("e.e", "c.ce")} AS cs
       |        FROM e, c),
       |cell AS MATERIALIZED (SELECT doc_id, cent AS cell FROM (
       |           SELECT doc_id, cent, row_number() OVER (
       |             PARTITION BY doc_id ORDER BY (0.0 - cs), cent) AS rn
       |           FROM aff) WHERE rn = 1),
       |$clusterMixStatsTail""".stripMargin

  private lazy val q158Sql =
    s"""WITH $clusterMixCte
       |SELECT cell, n_docs::BIGINT AS n_docs, n_tokens,
       |       round(share, 6) AS natural_share,
       |       round(scaled / z.z, 6) AS target_share,
       |       round((scaled / z.z) * tt / n_tokens, 6) AS weight
       |FROM sc, z ORDER BY cell""".stripMargin

  /** Q159 — cluster-mixture EXECUTION: q158's per-cell temperature
    * weights applied to the corpus through `applyMixture` over the SAME
    * cell assignment ([[graft.operators.Similarity.clusterAssign]]) —
    * each doc becomes `floor(w) + Bernoulli(frac(w))` copies with the
    * draw a pure function of doc_id (q70's convention), so the
    * cluster-resampled corpus is graded row-for-row. Together q158/q159
    * close the no-metadata mixture end to end: raw text → semantic
    * cells → derived weights → materialized training mix.
    */
  private def q159(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        graft.expressions.HashEmbedVec(
          TextFns.tokens(col("text")), 64).as("embedding"))
    // materialized ONCE: the embed+argmax pass feeds both the broadcast
    // weights subtree and the routed left side — without the pin the
    // broadcast build re-runs the whole assignment per consumer
    // (measured 9.3 s vs ~1.5 s pinned; the assignment frame is
    // strata-bounded small relative to any corpus that matters)
    val assigned = Similarity.clusterAssign(
        corpus, "doc_id", "embedding", k = ClusterMixCells)
      .select(col("doc_id"), col("cell"),
        TextFns.tokenCount(col("text")).as("__nt"))
      .localCheckpoint()
    Curation.applyMixture(
        assigned.select(col("doc_id"), col("cell")), "doc_id", "cell",
        Curation.temperatureWeights(assigned, "cell", col("__nt"), MixAlpha))
      .select(col("doc_id"), col("cell"), col("copy"))
      .orderBy("doc_id", "copy")
  }

  private lazy val q159Sql =
    s"""WITH $clusterMixCte,
       |w AS (SELECT sc.cell,
       |             round((scaled / z.z) * tt / n_tokens, 6) AS w
       |      FROM sc, z),
       |r AS (SELECT cell.doc_id, cell.cell,
       |        (floor(w.w)
       |         + CASE WHEN (('0x' || substr(md5('mix:' ||
       |                       cell.doc_id::VARCHAR), 1, 15))::BIGINT::DOUBLE
       |                      + 0.5) / 1.152921504606846976e18
       |                     < w.w - floor(w.w)
       |                THEN 1 ELSE 0 END)::BIGINT AS reps
       |      FROM cell JOIN w USING (cell))
       |SELECT doc_id, cell, unnest(range(reps)) AS copy
       |FROM r WHERE reps > 0 ORDER BY doc_id, copy""".stripMargin

  /** q161's training depth: two spherical k-means update steps over the
    * seeds — enough for the strata to move off the seed-order artifact
    * (the r13 verdict's critique of q158's iters=0 cells) while keeping
    * the oracle's step chain readable. */
  private val ClusterMixIters = 2

  /** The k-means training chain restated in SQL: `c0` = the lowest-id
    * seeds narrowed through FLOAT (the engine's stored-quantizer type —
    * [[graft.operators.Similarity.kMeansCentroids]] collects doubles and
    * narrows to float, so the oracle applies the identical `::FLOAT`
    * rounding before the `::DOUBLE` widening the literal gets), then per
    * step: in-row argmax assignment (ties to the lowest centroid id),
    * per-(cell, pos) mean rounded to 6 then float-narrowed, empty cells
    * keeping their previous centroid (the trainer's getOrElse).
    */
  private def kmIterCtes(iters: Int): String = {
    val seed =
      s"""c0 AS MATERIALIZED (SELECT doc_id AS cent,
         |        list_transform(e, x -> (x::FLOAT)::DOUBLE) AS ce FROM e
         |      WHERE doc_id IN (SELECT doc_id FROM e ORDER BY doc_id
         |                       LIMIT $ClusterMixCells))""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""aff$i AS (SELECT e.doc_id, c.cent,
         |               ${PipelineQueries.cosSql("e.e", "c.ce")} AS cs
         |        FROM e, c${i - 1} c),
         |cell$i AS MATERIALIZED (SELECT doc_id, cent AS cell FROM (
         |           SELECT doc_id, cent, row_number() OVER (
         |             PARTITION BY doc_id ORDER BY (0.0 - cs), cent) AS rn
         |           FROM aff$i) WHERE rn = 1),
         |m$i AS (SELECT cell, t.i AS pos,
         |               (round(avg(e.e[t.i + 1]), 6)::FLOAT)::DOUBLE AS m
         |        FROM cell$i JOIN e USING (doc_id)
         |             CROSS JOIN range(0, 64) t(i)
         |        GROUP BY 1, 2),
         |s$i AS (SELECT cell, list(m ORDER BY pos) AS ce FROM m$i
         |        GROUP BY 1),
         |c$i AS MATERIALIZED (SELECT c.cent, coalesce(s.ce, c.ce) AS ce
         |        FROM c${i - 1} c LEFT JOIN s$i s ON s.cell = c.cent)"""
        .stripMargin
    }
    (seed +: steps).mkString(",\n")
  }

  /** Q161 — the TRAINED-centroid cluster mixture (VERDICT r13 #7):
    * q158's sibling with the quantizer trained in-engine
    * ([[graft.operators.Similarity.kMeansCentroids]], 2 spherical
    * k-means steps from the lowest-id seeds) so the no-metadata
    * mixture's strata are data-shaped cells, not seed-order artifacts.
    * The oracle restates the WHOLE training chain (the q50 step
    * convention, iterated with MATERIALIZED CTEs) plus the final
    * assignment and temperature stats — model embedded declaratively,
    * nothing fetched from the engine.
    */
  private def q161(spark: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        graft.expressions.HashEmbedVec(
          TextFns.tokens(col("text")), 64).as("embedding"))
    val cents = Similarity.kMeansCentroids(corpus, "doc_id", "embedding",
      k = ClusterMixCells, iters = ClusterMixIters)
    Similarity.clusterMixtureWeights(corpus, "doc_id", "embedding",
        TextFns.tokenCount(col("text")), k = ClusterMixCells,
        alpha = MixAlpha,
        centroids = Some(cents.map { case (id, v) =>
          (id, v.map(_.toDouble): IndexedSeq[Double]) }))
      .orderBy("cell")
  }

  private lazy val q161Sql =
    s"""WITH $hashEmbedCte,
       |e AS MATERIALIZED (SELECT doc_id, embedding AS e FROM he),
       |${kmIterCtes(ClusterMixIters)},
       |aff AS (SELECT e.doc_id, c.cent,
       |               ${PipelineQueries.cosSql("e.e", "c.ce")} AS cs
       |        FROM e, c$ClusterMixIters c),
       |cell AS MATERIALIZED (SELECT doc_id, cent AS cell FROM (
       |           SELECT doc_id, cent, row_number() OVER (
       |             PARTITION BY doc_id ORDER BY (0.0 - cs), cent) AS rn
       |           FROM aff) WHERE rn = 1),
       |$clusterMixStatsTail
       |SELECT cell, n_docs::BIGINT AS n_docs, n_tokens,
       |       round(share, 6) AS natural_share,
       |       round(scaled / z.z, 6) AS target_share,
       |       round((scaled / z.z) * tt / n_tokens, 6) AS weight
       |FROM sc, z ORDER BY cell""".stripMargin

  /** q162/q163 weak-supervision seed: the label is keyword presence —
    * the trusted-heuristic bootstrap of the published quality-filter
    * pipelines (seed rule labels the corpus, a cheap linear model
    * learns to reproduce the signal from features and generalize it).
    * Chosen over a `lang` stratum label because on this corpus the
    * language strata are not lexically separable in the 64-dim hashed
    * space (measured acc ≈ majority base at every SF), while the
    * keyword seed trains a model that beats its base at every SF
    * (0.866 / 0.902 / 0.936 vs 0.77–0.78) and improves with data. */
  private val ClfSeedKeyword = "spark"

  /** The documents corpus with hash-embed features and the seed label,
    * shared by the classifier pair. */
  private def clfCorpus(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        array_contains(TextFns.tokens(col("text")), ClfSeedKeyword)
          .as("y"),
        graft.expressions.HashEmbedVec(
          TextFns.tokens(col("text")), 64).as("embedding"))

  /** Shared oracle CTE chain for the classifier pair: the hash-embed
    * features, the seed label, the per-class per-dimension round₆
    * centroids, the Rocchio weights `w = round₆(μ₊ − μ₋)` and the
    * midpoint intercept `b = round₆(−Σ w·(μ₊+μ₋)/2)` — the
    * [[graft.operators.Curation.rocchioTrain]] rule restated
    * declaratively, so the model is graded bit-for-bit. */
  private lazy val rocchioCtes =
    s"""y AS (SELECT doc_id,
       |             CASE WHEN list_contains(string_split(text, ' '),
       |                                     '$ClfSeedKeyword')
       |                  THEN 1.0 ELSE 0.0 END AS y
       |      FROM documents WHERE text IS NOT NULL),
       |ex AS (SELECT e.doc_id, t.i::INT AS j, e.embedding[t.i + 1] AS x,
       |              y.y
       |       FROM he e JOIN y USING (doc_id) CROSS JOIN range(0, 64) t(i)),
       |mu AS (SELECT j, round(avg(CASE WHEN y = 1.0 THEN x END), 6) AS mp,
       |              round(avg(CASE WHEN y = 0.0 THEN x END), 6) AS mn
       |       FROM ex GROUP BY j),
       |wv AS (SELECT j, round(mp - mn, 6) AS w, (mp + mn) / 2.0 AS m
       |       FROM mu),
       |bi AS (SELECT round(-sum(w * m), 6) AS b FROM wv)""".stripMargin

  /** Q162 — MODEL-BASED quality classifier, TRAINED in-engine
    * ([[graft.operators.Curation.rocchioTrain]]): a Rocchio /
    * nearest-class-centroid linear model over the no-model hash
    * embeddings, seeded by a keyword-presence label — the
    * weak-supervision quality-filter step with no external model or
    * labels. Output is the model itself (intercept at pos 0, then the
    * 64 weights); the oracle restates the closed-form training rule
    * declaratively, so the model is graded bit-for-bit, not
    * spot-checked.
    */
  private def q162(spark: SparkSession, dir: String): DataFrame = {
    val w = Curation.rocchioTrain(clfCorpus(spark, dir), "embedding",
      col("y"))
    import spark.implicits._
    w.zipWithIndex.map { case (v, j) => (j.toLong, v) }
      .toDF("pos", "weight").orderBy("pos")
  }

  private lazy val q162Sql =
    s"""WITH $hashEmbedCte,
       |$rocchioCtes
       |SELECT 0::BIGINT AS pos, b AS weight FROM bi
       |UNION ALL
       |SELECT (j + 1)::BIGINT AS pos, w AS weight FROM wv
       |ORDER BY pos""".stripMargin

  /** Q163 — the classifier APPLIED rowwise
    * ([[graft.operators.Curation.logisticScore]]): per-doc
    * `round₆(σ(b + w·x))` and the ≥ 0.5 keep flag from the q162 model —
    * one compiled projection over the broadcast weight literal (no
    * join, no shuffle; stream-safe), the quality-filter ingest step.
    * The oracle re-derives the model with the same CTE chain and scores
    * identically (the [[graft.expressions.VecDot]] strict left fold
    * matches `list_reduce` bit-for-bit).
    */
  private def q163(spark: SparkSession, dir: String): DataFrame = {
    val corpus = clfCorpus(spark, dir)
    val w = Curation.rocchioTrain(corpus, "embedding", col("y"))
    QueryDefs.orderByOnce(
      Curation.logisticScore(corpus, "embedding", w)
        .select(col("doc_id"), col("score"), col("keep")),
      col("doc_id"))
  }

  private lazy val q163Sql =
    s"""WITH $hashEmbedCte,
       |$rocchioCtes,
       |wl AS (SELECT list(w ORDER BY j) AS w FROM wv),
       |s AS (SELECT e.doc_id,
       |             round(1.0/(1.0 + exp(-(bi.b + list_reduce(list_transform(
       |                 list_zip(e.embedding, wl.w),
       |                 p -> struct_extract(p,1) * struct_extract(p,2)),
       |                 (a,b) -> a + b)))), 6) AS score
       |      FROM he e, wl, bi)
       |SELECT doc_id, score,
       |       (CASE WHEN score >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS keep
       |FROM s ORDER BY doc_id""".stripMargin

  /** Q164 — HOLDOUT evaluation of the quality classifier: train on the
    * even-doc_id half only, score the UNSEEN odd half, grade the
    * confusion matrix — the "generalizes, not memorizes" row. The
    * split is the deterministic parity convention of the leakage-safe
    * splits (q137). Measured holdout accuracy vs majority base across
    * the SFs: 0.728 vs 0.788 at 250 training docs (under-trained,
    * honestly below base), 0.892 vs 0.788 at 2.5k, 0.936 vs 0.782 at
    * 25k with zero false keeps — the training curve a deployment would
    * watch before trusting the filter.
    */
  private def q164(spark: SparkSession, dir: String): DataFrame = {
    val corpus = clfCorpus(spark, dir)
    val w = Curation.rocchioTrain(
      corpus.filter(col("doc_id") % 2 === 0), "embedding", col("y"))
    Curation.logisticScore(
        corpus.filter(col("doc_id") % 2 === 1), "embedding", w)
      .groupBy(col("y").cast("long").as("label"), col("keep"))
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "keep")
  }

  private lazy val q164Sql =
    s"""WITH $hashEmbedCte,
       |y AS (SELECT doc_id,
       |             CASE WHEN list_contains(string_split(text, ' '),
       |                                     '$ClfSeedKeyword')
       |                  THEN 1.0 ELSE 0.0 END AS y
       |      FROM documents WHERE text IS NOT NULL),
       |tr AS (SELECT doc_id FROM y WHERE doc_id % 2 = 0),
       |ex AS (SELECT e.doc_id, t.i::INT AS j, e.embedding[t.i + 1] AS x,
       |              y.y
       |       FROM he e JOIN y USING (doc_id) JOIN tr USING (doc_id)
       |       CROSS JOIN range(0, 64) t(i)),
       |mu AS (SELECT j, round(avg(CASE WHEN y = 1.0 THEN x END), 6) AS mp,
       |              round(avg(CASE WHEN y = 0.0 THEN x END), 6) AS mn
       |       FROM ex GROUP BY j),
       |wv AS (SELECT j, round(mp - mn, 6) AS w, (mp + mn) / 2.0 AS m
       |       FROM mu),
       |bi AS (SELECT round(-sum(w * m), 6) AS b FROM wv),
       |wl AS (SELECT list(w ORDER BY j) AS w FROM wv),
       |ho AS (SELECT e.doc_id, y.y,
       |             round(1.0/(1.0 + exp(-(bi.b + list_reduce(list_transform(
       |                 list_zip(e.embedding, wl.w),
       |                 p -> struct_extract(p,1) * struct_extract(p,2)),
       |                 (a,b) -> a + b)))), 6) AS score
       |      FROM he e JOIN y USING (doc_id), wl, bi
       |      WHERE e.doc_id % 2 = 1)
       |SELECT y::BIGINT AS label,
       |       (CASE WHEN score >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS keep,
       |       count(*)::BIGINT AS n
       |FROM ho GROUP BY 1, 2 ORDER BY label, keep""".stripMargin

  /** Q165 — the GPT-3 Pareto document filter
    * ([[graft.operators.Curation.paretoGate]]) composed onto the q163
    * scores: keep iff a Pareto(9) draw beats `1 − score`, derandomized
    * to an exact `u < round₆((2−score)⁻⁹)` comparison against the
    * doc's hash-uniform. Grades the full per-doc table (score, gate,
    * kept), so both the gate arithmetic (left-associated multiplication
    * chain, no libm pow) and every keep decision are hash-checked.
    */
  private def q165(spark: SparkSession, dir: String): DataFrame = {
    val corpus = clfCorpus(spark, dir)
    val w = Curation.rocchioTrain(corpus, "embedding", col("y"))
    QueryDefs.orderByOnce(Curation.paretoGate(
        Curation.logisticScore(corpus, "embedding", w), "doc_id", "score")
      .select(col("doc_id"), col("score"), col("gate"), col("kept")),
      col("doc_id"))
  }

  private lazy val q165Sql =
    s"""WITH $hashEmbedCte,
       |$rocchioCtes,
       |wl AS (SELECT list(w ORDER BY j) AS w FROM wv),
       |s AS (SELECT e.doc_id,
       |             round(1.0/(1.0 + exp(-(bi.b + list_reduce(list_transform(
       |                 list_zip(e.embedding, wl.w),
       |                 p -> struct_extract(p,1) * struct_extract(p,2)),
       |                 (a,b) -> a + b)))), 6) AS score
       |      FROM he e, wl, bi),
       |gt AS (SELECT doc_id, score,
       |              round(1.0 / ((2.0-score)*(2.0-score)*(2.0-score)
       |                  *(2.0-score)*(2.0-score)*(2.0-score)*(2.0-score)
       |                  *(2.0-score)*(2.0-score)), 6) AS gate
       |       FROM s)
       |SELECT doc_id, score, gate,
       |       (CASE WHEN (('0x' || substr(md5('pareto:' ||
       |                     doc_id::VARCHAR), 1, 15))::BIGINT::DOUBLE
       |                    + 0.5) / 1.152921504606846976e18 < gate
       |              THEN 1 ELSE 0 END)::BIGINT AS kept
       |FROM gt ORDER BY doc_id""".stripMargin

  /** Q166 — the JOB-SHAPED classifier selection path: q85's composed
    * per-document curation pass (signals + contamination + rule verdict)
    * with the trained-classifier Pareto gate (q162 training → q163
    * scoring → q165 gating, all restricted to the trainable corpus the
    * job actually sees) composed on as the model-based selection stage —
    * exactly [[graft.pipelines.CurationJob]] with `clfSeed` +
    * `clfGate = true`: the Pareto drop convicts like any other rule, the
    * final keep is the conjunction, and `reasons` carries
    * `clf_pareto_drop` next to the rule names. Graded end-to-end
    * against an oracle that restates every stage (the q85 convention),
    * so the COMPOSITION — train-on-the-job's-corpus, score, gate, rule
    * conjunction, reason assembly — is hash-checked, not just the
    * pieces.
    */
  private def q166(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") >= BenchCut)
      .select("doc_id", "lang", "text")
    val pass = Curation.curationPass(corpus,
        docs.filter(col("doc_id") < BenchCut), "doc_id", "text", PassRules)
      .withColumnRenamed("keep", "rule_keep")
      .drop("text", "scrubbed", "n_redactions")
    val toks = TextFns.tokens(col("text"))
    val feats = corpus.filter(col("text").isNotNull)
      .select(col("doc_id"),
        array_contains(toks, ClfSeedKeyword).as("y"),
        graft.expressions.HashEmbedVec(toks, 64).as("embedding"))
    val w = Curation.rocchioTrain(feats, "embedding", col("y"))
    val clf = Curation.paretoGate(
        Curation.logisticScore(feats, "embedding", w), "doc_id", "score")
      .select(col("doc_id"), col("score").as("clf_score"), col("gate"),
        col("kept").as("clf_kept"))
    pass.join(clf, "doc_id")
      .withColumn("keep",
        (col("rule_keep") === 1L && col("clf_kept") === 1L).cast("long"))
      .withColumn("reasons", when(col("clf_kept") === 0L,
          concat_ws(",",
            when(col("reasons") === "", lit(null)).otherwise(col("reasons")),
            lit("clf_pareto_drop")))
        .otherwise(col("reasons")))
      .orderBy("doc_id")
  }

  private lazy val q166Sql =
    s"""WITH $passCtes,
       |$hashEmbedCte,
       |cy AS (SELECT doc_id,
       |              CASE WHEN list_contains(string_split(text, ' '),
       |                                      '$ClfSeedKeyword')
       |                   THEN 1.0 ELSE 0.0 END AS y
       |       FROM documents
       |       WHERE text IS NOT NULL AND doc_id >= $BenchCut),
       |cex AS (SELECT e.doc_id, t.i::INT AS j, e.embedding[t.i + 1] AS x,
       |               cy.y
       |        FROM he e JOIN cy USING (doc_id) CROSS JOIN range(0, 64) t(i)),
       |cmu AS (SELECT j, round(avg(CASE WHEN y = 1.0 THEN x END), 6) AS mp,
       |               round(avg(CASE WHEN y = 0.0 THEN x END), 6) AS mn
       |        FROM cex GROUP BY j),
       |cwv AS (SELECT j, round(mp - mn, 6) AS w, (mp + mn) / 2.0 AS m
       |        FROM cmu),
       |cbi AS (SELECT round(-sum(w * m), 6) AS b FROM cwv),
       |cwl AS (SELECT list(w ORDER BY j) AS w FROM cwv),
       |csc AS (SELECT e.doc_id,
       |              round(1.0/(1.0 + exp(-(cbi.b + list_reduce(list_transform(
       |                  list_zip(e.embedding, cwl.w),
       |                  p -> struct_extract(p,1) * struct_extract(p,2)),
       |                  (a,b) -> a + b)))), 6) AS clf_score
       |       FROM he e JOIN cy USING (doc_id), cwl, cbi),
       |cgt AS (SELECT doc_id, clf_score,
       |               round(1.0 / ((2.0-clf_score)*(2.0-clf_score)
       |                   *(2.0-clf_score)*(2.0-clf_score)*(2.0-clf_score)
       |                   *(2.0-clf_score)*(2.0-clf_score)*(2.0-clf_score)
       |                   *(2.0-clf_score)), 6) AS gate
       |        FROM csc),
       |ckp AS (SELECT doc_id, clf_score, gate,
       |               (CASE WHEN (('0x' || substr(md5('pareto:' ||
       |                             doc_id::VARCHAR), 1, 15))::BIGINT::DOUBLE
       |                            + 0.5) / 1.152921504606846976e18 < gate
       |                      THEN 1 ELSE 0 END)::BIGINT AS clf_kept
       |        FROM cgt),
       |pass AS (SELECT c.doc_id, c.lang, sig.n_tokens, sig.distinct_ratio,
       |       sig.top_word_frac, sig.top_bigram_frac, sig.dup_bigram_frac,
       |       coalesce(ov.n_overlap, 0)::BIGINT AS n_overlap,
       |       (CASE WHEN sig.n_tokens < 20 OR sig.distinct_ratio < 0.35
       |                  OR sig.top_word_frac > 0.15
       |                  OR sig.dup_bigram_frac > 0.09
       |                  OR coalesce(ov.n_overlap, 0) > 0
       |             THEN 0 ELSE 1 END)::BIGINT AS rule_keep,
       |       concat_ws(',',
       |         CASE WHEN sig.n_tokens < 20 THEN 'too_short' END,
       |         CASE WHEN sig.distinct_ratio < 0.35 THEN 'low_diversity' END,
       |         CASE WHEN sig.top_word_frac > 0.15 THEN 'top_heavy' END,
       |         CASE WHEN sig.dup_bigram_frac > 0.09 THEN 'dup_bigrams' END,
       |         CASE WHEN coalesce(ov.n_overlap, 0) > 0 THEN 'contaminated' END)
       |         AS rule_reasons
       |  FROM corpus c JOIN sig USING (doc_id)
       |  LEFT JOIN ov ON ov.doc_id = c.doc_id)
       |SELECT p.doc_id, p.lang, p.n_tokens, p.distinct_ratio,
       |       p.top_word_frac, p.top_bigram_frac, p.dup_bigram_frac,
       |       p.n_overlap, p.rule_keep,
       |       k.clf_score, k.gate, k.clf_kept,
       |       (CASE WHEN p.rule_keep = 1 AND k.clf_kept = 1
       |             THEN 1 ELSE 0 END)::BIGINT AS keep,
       |       CASE WHEN k.clf_kept = 0
       |            THEN concat_ws(',', nullif(p.rule_reasons, ''),
       |                           'clf_pareto_drop')
       |            ELSE p.rule_reasons END AS reasons
       |FROM pass p JOIN ckp k USING (doc_id)
       |ORDER BY p.doc_id""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q158_cluster_mixture", q158, Some(q158Sql)),
    QueryDef("q159_cluster_mixture_apply", q159, Some(q159Sql)),
    QueryDef("q161_cluster_mixture_trained", q161, Some(q161Sql)),
    QueryDef("q162_quality_clf_train", q162, Some(q162Sql)),
    QueryDef("q163_quality_clf_score", q163, Some(q163Sql)),
    QueryDef("q164_quality_clf_holdout", q164, Some(q164Sql)),
    QueryDef("q165_quality_pareto_filter", q165, Some(q165Sql)),
    QueryDef("q166_clf_curation_job", q166, Some(q166Sql)),
    QueryDef("q167_delta_neardup", q167, Some(q167Sql)),
    QueryDef("q177_admit_probe_neardup", q177, Some(q177Sql)),
    QueryDef("q168_unigram_train", q168, Some(q168Sql)),
    QueryDef("q169_unigram_encode", q169, Some(q169Sql)),
    QueryDef("q170_unigram_fertility", q170, Some(q170Sql)),
    QueryDef("q171_unigram_sample_encode", q171, Some(q171Sql)),
    QueryDef("q174_unigram_encode_rowwise", q174, Some(q169Sql)),
    QueryDef("q175_unigram_sample_rowwise", q175, Some(uniSampleSqlFor(""))),
    QueryDef("q176_bpe_encode_rowwise", q176, Some(q91Sql)),
    QueryDef("q178_encoded_train_layout", q178, Some(q178Sql)),
    QueryDef("q179_wordpiece_encode", q179, Some(q179Sql)),
    QueryDef("q181_wordpiece_two_alphabet", q181, Some(q181Sql)),
    QueryDef("q182_wordpiece_fertility", q182, Some(q182Sql)),
    QueryDef("q183_store_probe_neardup", q183, Some(q167Sql)),
    QueryDef("q184_store_admit_probe", q184, Some(q177Sql)),
    QueryDef("q187_store_compact_probe", q187, Some(q187Sql)),
    QueryDef("q189_incremental_step", q189, Some(q189Sql)),
    QueryDef("q190_curation_stream", q190, Some(q189Sql)),
    QueryDef("q191_short_doc_exact_step", q191, Some(q191Sql)),
    QueryDef("q192_managed_maintenance_step", q192, Some(q192Sql)),
    QueryDef("q73_contamination_score", q73, Some(q73Sql)),
    QueryDef("q74_delta_dedup", q74, Some(q74Sql)),
    QueryDef("q75_shard_assign", q75, Some(q75Sql)),
    QueryDef("q76_budgeted_selection", q76, Some(q76Sql)),
    QueryDef("q77_bpe_pairs", q77, Some(q77Sql)),
    QueryDef("q78_batch_topk", q78, Some(q78Sql)),
    QueryDef("q79_ann_recall", q79, Some(q79Sql)),
    QueryDef("q80_contamination_rowwise", q80, Some(q73Sql)),
    QueryDef("q81_duplicated_spans", q81, Some(q81Sql)),
    QueryDef("q82_source_overlap", q82, Some(q82Sql)),
    QueryDef("q83_repetition_rowwise", q83, Some(CurationQueries.q56Sql)),
    QueryDef("q84_ann_ivf_batch", q84, Some(q84Sql)),
    QueryDef("q85_curation_pass", q85, Some(q85Sql)),
    QueryDef("q86_ivf_recall", q86, Some(q86Sql)),
    QueryDef("q87_perplexity_buckets", q87, Some(q87Sql)),
    QueryDef("q88_bpe_train", q88, Some(q88Sql)),
    QueryDef("q89_pq_codes", q89, Some(q89Sql)),
    QueryDef("q90_pq_recall", q90, Some(q90Sql)),
    QueryDef("q91_bpe_encode", q91, Some(q91Sql)),
    QueryDef("q121_bpe_fertility", q121, Some(q121Sql)),
    QueryDef("q128_rp_recall", q128, Some(q128Sql)),
    QueryDef("q92_ivfpq_recall", q92, Some(q92Sql)),
    QueryDef("q93_span_excision", q93, Some(q93Sql)),
    QueryDef("q94_temperature_mixture", q94, Some(q94Sql)),
    QueryDef("q95_decontam_excision", q95, Some(q95Sql)),
    QueryDef("q96_corpus_report", q96, Some(q96Sql)),
    QueryDef("q97_dsir_weights", q97, Some(q97Sql)),
    QueryDef("q98_dsir_select", q98, Some(q98Sql)),
    QueryDef("q101_bm25_topk", q101, Some(q101Sql)),
    QueryDef("q102_rrf_fusion", q102, Some(q102Sql)),
    QueryDef("q103_dsir_rowwise", q103, Some(q103Sql)),
    QueryDef("q107_span_corrupt", q107, Some(q107Sql)),
    QueryDef("q138_ann_mplsh_topk", q138, Some(q138Sql)),
    QueryDef("q139_mplsh_recall", q139, Some(q139Sql)),
    QueryDef("q142_sq8_recall", q142, Some(q142Sql)),
    QueryDef("q143_cdc_chunk_dedup", q143, Some(q143Sql)),
    QueryDef("q144_rho_selection", q144, Some(q144Sql)),
    QueryDef("q145_epoch_fill", q145, Some(q145Sql)),
    QueryDef("q146_hash_embed", q146, Some(q146Sql)),
    QueryDef("q147_hash_embed_topk", q147, Some(q147Sql)),
    QueryDef("q149_source_overlap_sketch", q149, Some(q149Sql)),
    QueryDef("q150_cdc_excision", q150, Some(q150Sql)),
    QueryDef("q151_hash_embed_rowwise", q151, Some(q146Sql)),
    QueryDef("q153_doremi_mixture", q153, Some(q153Sql)),
    QueryDef("q154_semantic_text_pairs", q154, Some(q154Sql)),
    QueryDef("q160_neardup_auto", q160, Some(q160Sql)))
}
