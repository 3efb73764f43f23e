package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`).
  *
  *  - [[topK]] — brute-force cosine top-k: one narrow pass over the corpus
  *    (query broadcast), then TakeOrderedAndProject. The correctness
  *    baseline; O(corpus) work per query but zero shuffle.
  *  - [[nearDupPairs]] — all pairs ≥ threshold. Quadratic; bounded corpora
  *    only — the LSH path replaces it at scale. The float→double widening
  *    and the norm are computed once per row *before* the pair join, so
  *    per-pair work is exactly one zip-multiply-fold.
  *  - [[lshTopK]] — random-hyperplane LSH: 128-bit signatures in 16 bands
  *    of 8 bits, banded bucket join so only same-bucket candidates get
  *    exact re-ranking. Hyperplane components are derived
  *    deterministically from xxhash64 so results are reproducible with no
  *    stored model; the 128×64 plane matrix is evaluated ONCE (one-row
  *    Catalyst job) and inlined as a literal, so per-row signature cost is
  *    pure multiply-adds — no hashing in the row path. The bucket join
  *    shuffles O(docs × bands) constant-width rows — this is what
  *    survives a 100 TB corpus, with the same re-rank exactness on
  *    candidates.
  *
  *    Parameter choice (validated by simulation against the testdata):
  *    8-bit bands keep the random-collision candidate rate at
  *    1-(1-2⁻⁸)¹⁶ ≈ 6% of the corpus, while recall in the regime ANN is
  *    for (near-duplicates, cosine ≥ 0.9 → per-bit agreement ≥ 0.90) is
  *    1-(1-0.9⁸)¹⁶ ≈ 0.9999. Few wide bands, not many narrow ones:
  *    narrow bands admit most of the corpus as candidates and a single
  *    fixed plane set has huge recall variance on weak (cos ≈ 0.3)
  *    neighbors.
  */
object Similarity {

  private val Bits = 128
  private[graft] val Bands = 16
  private val Dim = 64

  /** Widest admissible LSH band (rowsPerBand): the banded-pair family
    * packs a bucket key as the LONG `(band+1)·2^w + bits`, which needs
    * `w + ⌈log₂(bands+1)⌉ ≤ 63` bits — beyond w = 62 the shift
    * overflows and wrapped keys can alias buckets ACROSS bands,
    * inflating candidate volume unpredictably (output would stay
    * correct via the exact-cosine verify, but the volume bound the
    * banding analysis promises would not hold). Band-sizing returns
    * single-digit widths in practice; this is the API guard.
    */
  private[graft] val MaxRowsPerBand = 62

  /** Deterministic pseudo-random hyperplane component p,j in [-0.5, 0.5].
    * (The formula of record; [[planeMatrix]] inlines it once per (p,j).)
    */
  private def planeComponent(p: Column, j: Column): Column =
    pmod(xxhash64(p, j), lit(1001)) / lit(1000.0) - lit(0.5)

  /** Spark's XXH64-for-int primitive (the public xxHash algorithm, as in
    * `org.apache.spark.sql.catalyst.expressions.XXH64`), restated so the
    * plane model — and the DuckDB oracle that mirrors it — can be
    * generated driver-side with no Spark job. Equality with the SQL
    * `xxhash64` formula is pinned by the plane-matrix ScalaTest.
    */
  private object XxHash64Pure {
    private val P1 = 0x9E3779B185EBCA87L
    private val P2 = 0xC2B2AE3D27D4EB4FL
    private val P3 = 0x165667B19E3779F9L
    private val P5 = 0x27D4EB2F165667C5L
    def hashInt(input: Int, seed: Long): Long = {
      var h = seed + P5 + 4L
      h ^= (input & 0xFFFFFFFFL) * P1
      h = java.lang.Long.rotateLeft(h, 23) * P2 + P3
      h ^= h >>> 33; h *= P2; h ^= h >>> 29; h *= P3; h ^= h >>> 32
      h
    }
  }

  /** `pmod(xxhash64(p, j), 1001)` — the small integer each double plane
    * component derives from (`k/1000.0 - 0.5`). Exposed so the q28 oracle
    * SQL can embed the identical model as a literal.
    */
  private[graft] lazy val planeInts: IndexedSeq[IndexedSeq[Int]] =
    (0 until Bits).map { p =>
      val hp = XxHash64Pure.hashInt(p, 42L)
      (0 until Dim).map { j =>
        val m = (XxHash64Pure.hashInt(j, hp) % 1001L).toInt
        if (m < 0) m + 1001 else m
      }
    }

  /** The plane matrix as driver-side doubles — the model constant the
    * signature kernel bakes in (and [[planeMatrix]] inlines). */
  private[graft] lazy val planeDoubles: Seq[Seq[Double]] =
    planeInts.map(_.map(_ / 1000.0 - 0.5))

  /** The Bits×Dim hyperplane matrix as an array<array<double>> literal —
    * row-path signature computation carries no hash calls at all.
    */
  private[graft] def planeMatrix: Column = typedlit(planeDoubles)

  /** Random-hyperplane signature bits of a pre-widened double embedding:
    * sign of each plane dot product, computed by the codegen'd
    * [[graft.expressions.PlaneSignature]] kernel (the declarative
    * [[signatureHof]] twin rides interpreted `ArrayTransform` — 128
    * lambda dispatches per row; equality is property-tested).
    */
  private[graft] def signature(embD: Column): Column =
    graft.expressions.PlaneSignature(embD, planeDoubles)

  /** The declarative signature formula over an inlined plane matrix —
    * the semantic reference [[signature]]'s kernel is tested against
    * (not used on any hot path).
    */
  private[graft] def signatureHof(embD: Column, planes: Column): Column =
    transform(planes, p =>
      when(VectorFns.dot(embD, p) > 0, 1).otherwise(0))

  /** 128-bit random-hyperplane signature of an embedding column (public
    * formula-of-record form; plane components derived per-row).
    */
  def lshSignature(emb: Column): Column =
    transform(sequence(lit(0), lit(Bits - 1)), p =>
      when(
        aggregate(
          zip_with(VectorFns.toDouble(emb), sequence(lit(0), lit(Dim - 1)),
            (x, j) => x * planeComponent(p, j)),
          lit(0.0), _ + _) > 0, 1).otherwise(0))

  /** Brute-force cosine top-k against one query vector. */
  def topK(corpus: DataFrame, idCol: String, embCol: String,
           query: DataFrame, k: Int): DataFrame = {
    val q = query.select(col(embCol).as("q_emb"))
    corpus.crossJoin(broadcast(q))
      .select(col(idCol),
        round(VectorFns.cosine(col(embCol), col("q_emb")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** All embedding pairs with cosine ≥ threshold (id_a < id_b).
    * Norms are per-row precomputed; the O(n²) inner loop is one native
    * [[graft.expressions.VecDot]] per pair inside whole-stage codegen.
    */
  def nearDupPairs(df: DataFrame, idCol: String, embCol: String,
                   threshold: Double): DataFrame = {
    val withNorm = df.select(col(idCol).as("id"), col(embCol).as("e"))
      .withColumn("n", VectorFns.norm(col("e")))
    val a = withNorm.select(col("id").as("id_a"), col("e").as("e_a"), col("n").as("n_a"))
    val b = withNorm.select(col("id").as("id_b"), col("e").as("e_b"), col("n").as("n_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim",
        VectorFns.dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_sim"), 6).as("cos_sim"))
  }

  /** IVF (inverted-file) ANN top-k — the other classic scale path next to
    * [[lshTopK]]: a coarse quantizer assigns every vector to its nearest
    * centroid ONCE, and a query exactly re-ranks only the vectors in its
    * `nProbe` nearest centroid cells (~nProbe/nCentroids of the corpus).
    *
    * The quantizer is a MODEL, not data: the `nCentroids` lowest-id
    * vectors are collected (nCentroids × dim floats — a few KB) and
    * inlined as a literal, so cell assignment is an IN-ROW argmax inside
    * codegen — one narrow pass over the corpus with no join, no row
    * blowup, and no shuffle. (An earlier draft crossJoined the broadcast
    * centroids and ranked with a per-id window — a nCentroids× row
    * explosion plus a full shuffle keyed by a unique id, caught in
    * review.) At 100 TB you'd drop k-means refinement in here; the
    * assignment plumbing is unchanged by better centroids.
    */
  def ivfTopK(corpus: DataFrame, idCol: String, embCol: String,
              query: DataFrame, k: Int,
              nCentroids: Int = 32, nProbe: Int = 4,
              centroids: Option[Seq[(Long, IndexedSeq[Float])]] = None): DataFrame = {
    // default quantizer = untrained lowest-id seeds; pass a
    // [[kMeansCentroids]]-trained model to tighten the cells (the
    // assignment plumbing is identical either way)
    val cents = centroids.map(_.toArray).getOrElse(
      seedCentroids(corpus, idCol, embCol, nCentroids))
    val centArr = typedlit(cents.toIndexedSeq) // array<struct<_1:long,_2:array<float>>>
    // per-row centroid ranking: sort struct(-cos, cent_id) ascending ==
    // cos descending with centroid-id tie-break (same order the windowed
    // formulation used)
    def rankedCells: Column = array_sort(transform(centArr, c =>
      struct(
        (lit(0.0) - VectorFns.cosine(col(embCol), c.getField("_2"))).as("neg_cos"),
        c.getField("_1").as("cent"))))
    val assigned = corpus.withColumn("cell",
      element_at(rankedCells, 1).getField("cent"))
      .select(col(idCol), col(embCol), col("cell"))
    val probes = query
      .select(col(embCol).as("q_emb"),
        explode(slice(transform(rankedCells, s => s.getField("cent")),
          1, nProbe)).as("cell"))
      .select(col("cell"), col("q_emb"))
    assigned.join(broadcast(probes), "cell")
      .select(col(idCol),
        round(VectorFns.cosine(col(embCol), col("q_emb")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** [[ivfTopK]] generalized to a BATCH of query vectors (the IVF
    * counterpart of [[lshTopKBatch]]): the corpus is cell-assigned ONCE
    * by the in-row argmax, every query contributes its `nProbe` nearest
    * cells to one broadcast probe table, and candidates re-rank exactly
    * per query through the same rank-limited window as [[topKBatch]].
    * Emits (qidCol → `query_id`, idCol, cos_sim). A corpus vector sits
    * in exactly one cell and a query's probes are distinct, so the
    * probe join hits each (query, vector) at most once — no dedup
    * aggregate is needed (or planned) between the join and the window.
    */
  def ivfTopKBatch(corpus: DataFrame, idCol: String, embCol: String,
                   queries: DataFrame, qidCol: String, k: Int,
                   nCentroids: Int = 32, nProbe: Int = 4,
                   centroids: Option[Seq[(Long, IndexedSeq[Float])]] = None)
      : DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val cents = centroids.map(_.toArray).getOrElse(
      seedCentroids(corpus, idCol, embCol, nCentroids))
    val centArr = typedlit(cents.toIndexedSeq)
    def rankedCells: Column = array_sort(transform(centArr, c =>
      struct(
        (lit(0.0) - VectorFns.cosine(col(embCol), c.getField("_2"))).as("neg_cos"),
        c.getField("_1").as("cent"))))
    val assigned = corpus.withColumn("cell",
      element_at(rankedCells, 1).getField("cent"))
      .select(col(idCol), col(embCol), col("cell"))
    val probes = queries
      .select(col(qidCol).as("query_id"), col(embCol).as("q_emb"),
        explode(slice(transform(rankedCells, s => s.getField("cent")),
          1, nProbe)).as("cell"))
      .select(col("cell"), col("query_id"), col("q_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    assigned.join(broadcast(probes), "cell")
      .select(col("query_id"), col(idCol),
        round(VectorFns.cosine(col(embCol), col("q_emb")), 6).as("cos_sim"))
      .withColumn("__graft_rk", row_number().over(w))
      .filter(col("__graft_rk") <= k)
      .drop("__graft_rk")
  }

  /** IVF-PQ ANN top-k for a BATCH of query vectors — the composed
    * inverted-file + product-quantization index (the classic
    * at-scale ANN layout, Jégou et al. 2011 §IV): the coarse quantizer
    * restricts each query to its `nProbe` cells ([[ivfTopKBatch]]'s
    * assignment, same model, same in-row argmax) and candidates inside
    * those cells are scored through their 8-byte PQ codes
    * ([[graft.expressions.PqAdcDot]]) instead of their full vectors —
    * so a query touches `~nProbe/nCentroids` of the corpus AND reads
    * 32× less data per touched row. Norms are the true stored scalars,
    * as in [[pqTopKBatch]]; the final per-query top-k rides the same
    * rank-limited window. Recall cost of the double approximation is
    * measured by [[recallAtK]] (q92).
    */
  def ivfPqTopKBatch(corpus: DataFrame, idCol: String, embCol: String,
                     queries: DataFrame, qidCol: String, k: Int,
                     nCentroids: Int = 32, nProbe: Int = 4,
                     m: Int = PqSubspaces, cells: Int = PqCells): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val cents = corpus.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).cast("long"), col(embCol)).collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Float]](1).toIndexedSeq))
    val centArr = typedlit(cents.toIndexedSeq)
    def rankedCells: Column = array_sort(transform(centArr, c =>
      struct(
        (lit(0.0) - VectorFns.cosine(col(embCol), c.getField("_2"))).as("neg_cos"),
        c.getField("_1").as("cent"))))
    val cb = pqCodebook(corpus, idCol, embCol, m, cells)
    val assigned = corpus
      .withColumn("cell", element_at(rankedCells, 1).getField("cent"))
      .select(col(idCol),
        graft.expressions.PqAssign(col(embCol), cb).as("__graft_codes"),
        VectorFns.norm(col(embCol)).as("__graft_nx"), col("cell"))
    val probes = queries
      .select(col(qidCol).as("query_id"), col(embCol).as("q_emb"),
        VectorFns.norm(col(embCol)).as("__graft_nq"),
        explode(slice(transform(rankedCells, s => s.getField("cent")),
          1, nProbe)).as("cell"))
      .select(col("cell"), col("query_id"), col("q_emb"), col("__graft_nq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    assigned.join(broadcast(probes), "cell")
      .select(col("query_id"), col(idCol),
        round(graft.expressions.PqAdcDot(col("q_emb"), col("__graft_codes"), cb)
          / (col("__graft_nx") * col("__graft_nq")), 6).as("cos_sim"))
      .withColumn("__graft_rk", row_number().over(w))
      .filter(col("__graft_rk") <= k)
      .drop("__graft_rk")
  }

  /** One spherical k-means step over an embedding corpus: assign every
    * vector to its max-cosine centroid (ties → lowest centroid id, same
    * in-row argmax as [[ivfTopK]] — no join, no row blowup), then emit
    * each cell's size and elementwise-mean centroid. One narrow pass +
    * one aggregation shuffle keyed by (cell, position) — the update step
    * of quantizer training at any scale.
    *
    * Output: (cell: long, n: long, centroid: array<double> rounded to 6
    * places). The rounding makes iterated training ENGINE-REPRODUCIBLE:
    * every centroid a step emits is exactly representable cross-engine,
    * so a DuckDB restatement of the same step gives bit-identical
    * centroids (graded as q50).
    */
  def kMeansStep(corpus: DataFrame, idCol: String, embCol: String,
                 centroids: Seq[(Long, IndexedSeq[Float])]): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val centArr = typedlit(centroids.toIndexedSeq)
    val cell = element_at(array_sort(transform(centArr, c => struct(
      (lit(0.0) - VectorFns.cosine(col(embCol), c.getField("_2"))).as("neg_cos"),
      c.getField("_1").as("cent")))), 1).getField("cent")
    // assignment via withColumn, THEN the generator select: a generator
    // in the same select resolves struct-field access after the analyzer
    // has stripped the lambda-internal aliases (FIELD_NOT_FOUND on
    // `cent`); the two-step form resolves it on the normal path
    corpus.withColumn("cell", cell)
      .select(col("cell"), posexplode(col(embCol)).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(avg(col("v")).as("m"), count(lit(1)).as("n"))
      .groupBy(col("cell"))
      .agg(max(col("n")).as("n"),
        transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => round(s.getField("m"), 6)).as("centroid"))
      .orderBy("cell")
  }

  /** Int8 scalar quantization of the embedding column — the compression
    * step of a disk-resident ANN index (IVF-SQ8 style: 4× smaller than
    * float32, distance error bounded by per-dimension resolution). Each
    * dimension is affinely mapped to codes 0..255 using its corpus-wide
    * [min, max]: `code = floor((v - min) · 255 / (max - min) + 0.5)`
    * (a constant dimension maps to 0). Emits `(id, pos, code)` rows.
    *
    * The per-dimension stats frame is dim-sized (64 rows) regardless of
    * corpus scale: one map-side-combined aggregate, then a broadcast
    * join back — the corpus is scanned once, nothing corpus-sized
    * shuffles. All arithmetic is double with one fixed association
    * order, so codes are bit-reproducible cross-engine (scalar double
    * ops are exact-identical; no rounding tolerance needed).
    */
  def scalarQuantize(df: DataFrame, idCol: String, embCol: String): DataFrame = {
    val flat = df.select(col(idCol),
        posexplode(col(embCol)).as(Seq("p", "vf")))
      .select(col(idCol), col("p").cast("long").as("pos"),
        col("vf").cast("double").as("v"))
    val stats = flat.groupBy("pos")
      .agg(min("v").as("mn"), max("v").as("mx"))
    flat.join(broadcast(stats), "pos")
      .select(col(idCol), col("pos"),
        when(col("mx") > col("mn"),
          floor((col("v") - col("mn")) * lit(255.0) / (col("mx") - col("mn"))
            + lit(0.5)))
          .otherwise(lit(0L)).as("code"))
  }

  /** Feature-hashed document embeddings — the hashing-trick bridge
    * (Weinberger et al. 2009, "Feature Hashing for Large Scale
    * Multitask Learning") from raw text to the engine's dense-vector
    * surface: every token lands in dimension `h(t) mod dim` with a
    * ±1 sign from the next hash bit (the unbiasing trick — collisions
    * cancel in expectation instead of accumulating), per-dimension
    * sums are L2-normalized, and the result is a `dim`-wide
    * `array<double>` column the WHOLE similarity family (topK, LSH,
    * IVF, PQ, SQ8, k-means, SemDeDup, MMR, kNN…) consumes with no
    * trained model and no vocabulary — the classic no-training
    * baseline embedding at any corpus scale.
    *
    * Determinism: the per-dimension accumulators are INTEGER token
    * counts (±1 per occurrence), so the only float ops are one sqrt
    * and `dim` divisions per document — bit-reproducible cross-engine
    * with no fold-order pinning needed (integer sums commute exactly).
    * The norm uses exact integer squares; all-cancelled (or empty)
    * documents emit the zero vector rather than dividing by zero.
    * Emits `(idCol, embedding)`, one row per non-null-text document.
    *
    * Scale shape: one tokenize → one (id, dim) keyed aggregate with
    * map-side combine → one per-doc assembly whose collect_list is
    * bounded by `dim` (64 entries), independent of document length or
    * corpus size. No joins, no broadcast, nothing collected.
    */
  def hashEmbed(df: DataFrame, idCol: String, textCol: String,
                dim: Int = Dim): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val dims = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol), explode(graft.functions.TextFns.tokens(
        col(textCol))).as("tok"))
      .select(col(idCol), graft.functions.TextFns.md5Hash60(
        concat(lit("he:"), col("tok"))).as("h"))
      // sign bit via INTEGER div — a double division would lose bits
      // above 2^53 on the 60-bit hash
      .select(col(idCol), (col("h") % dim).cast("int").as("j"),
        when(expr(s"h div $dim") % 2 === 0, 1L).otherwise(-1L).as("s"))
      .groupBy(col(idCol), col("j")).agg(sum(col("s")).as("v"))
    dims
      .groupBy(col(idCol)).agg(
        sum(col("v") * col("v")).as("n2"),
        map_from_entries(collect_list(struct(col("j"), col("v"))))
          .as("m"))
      .select(col(idCol),
        transform(sequence(lit(0), lit(dim - 1)), i => {
          val vj = coalesce(element_at(col("m"), i.cast("int")), lit(0L))
          when(col("n2") > 0,
            round(vj / sqrt(col("n2")), 6)).otherwise(lit(0.0))
        }).as("embedding"))
  }

  /** STREAM-SAFE rowwise twin of [[hashEmbed]] (the q103/q80/q83
    * convention): per-document feature hashing as one compiled kernel
    * ([[graft.expressions.HashEmbedVec]]) in a narrow projection — no
    * aggregate, no shuffle, no state — so the same embedding runs
    * inside a Structured Streaming micro-batch. Output contract and
    * arithmetic are IDENTICAL to the batch operator (integer dimension
    * sums commute; property-tested equal), which also makes this the
    * cheaper plan for plain batch use: the batch path's (id, dim)
    * shuffle exists only to demonstrate the aggregate shape and is not
    * needed when each document's tokens already sit in one row.
    */
  def hashEmbedRowwise(df: DataFrame, idCol: String, textCol: String,
                       dim: Int = Dim): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), graft.expressions.HashEmbedVec(
        graft.functions.TextFns.tokens(col(textCol)), dim).as("embedding"))

  /** SQ8 asymmetric ANN top-k — retrieval straight off the
    * [[scalarQuantize]] index (IVF-SQ8's flat base case, the fourth
    * index family next to LSH / IVF / PQ): database vectors live as
    * int8 codes, queries stay float, and each candidate scores
    * `cos(q, recon(codes))` where `recon_i = mn_i + code_i·(mx_i-mn_i)/255`
    * — the asymmetric-distance convention (query unquantized) that
    * keeps SQ8 recall near-exact while the resident index is 4× smaller
    * than float32. Emits `(query_id, idCol, cos_sim)`, k rows per query.
    *
    * Scale shape: the per-dimension [min, max] model is DIM-sized (64
    * pairs) regardless of corpus scale — a bounded model fetch like
    * [[pqCodebook]]'s, inlined as literals so quantize→reconstruct is
    * ONE narrow whole-stage-codegen pass over the corpus (no stats
    * join, no shuffle); then [[topKBatch]]'s broadcast-query fanout and
    * rank-limited window (WindowGroupLimit k-heap). Quantization and
    * reconstruction are pure double arithmetic with one fixed
    * association order, so a DuckDB restatement of the same model is
    * bit-identical — recall against [[topKBatch]] is gradable exactly.
    */
  def sq8TopKBatch(corpus: DataFrame, idCol: String, embCol: String,
                   queries: DataFrame, qidCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val statRows = corpus
      .select(posexplode(col(embCol)).as(Seq("p", "vf")))
      .select(col("p"), col("vf").cast("double").as("v"))
      .groupBy("p").agg(min("v").as("mn"), max("v").as("mx"))
      .collect()
    require(statRows.nonEmpty, "corpus must be non-empty")
    val dim = statRows.length
    val mn = new Array[Double](dim)
    val mx = new Array[Double](dim)
    statRows.foreach { r =>
      mn(r.getInt(0)) = r.getDouble(1); mx(r.getInt(0)) = r.getDouble(2)
    }
    val mnLit = typedlit(mn.toIndexedSeq)
    val mxLit = typedlit(mx.toIndexedSeq)
    // quantize-then-reconstruct in one indexed transform: constant
    // dimensions (mx == mn) pin to mn, everything else round-trips
    // through the 0..255 code exactly as scalarQuantize writes it
    def recon(e: Column): Column = transform(e, (x, i) => {
      val m = element_at(mnLit, i + 1)
      val hi = element_at(mxLit, i + 1)
      when(hi > m,
        m + floor((x.cast("double") - m) * lit(255.0) / (hi - m) + lit(0.5))
          * (hi - m) / lit(255.0))
        .otherwise(m)
    })
    val q = queries.select(col(qidCol).as("query_id"), col(embCol).as("q_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    corpus.select(col(idCol), recon(col(embCol)).as("r_emb"))
      .crossJoin(broadcast(q))
      .select(col("query_id"), col(idCol),
        round(VectorFns.cosine(col("r_emb"), col("q_emb")), 6).as("cos_sim"))
      .withColumn("__graft_rk", row_number().over(w))
      .filter(col("__graft_rk") <= k)
      .drop("__graft_rk")
  }

  // ------------------------------------------------- product quantization

  /** PQ geometry: 8 subspaces of 8 dims over the 64-dim embeddings, 16
    * centroids per subspace — 8-byte codes, 32× smaller than float32.
    */
  private[graft] val PqSubspaces = 8
  private[graft] val PqCells = 16

  /** Spark `round(_, 6)` (HALF_UP), applied driver-side so the
    * empty-cell seed fallback matches the refined centroids' rounding. */
  private def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Train the PQ codebook — the third classic index family next to LSH
    * and IVF (Jégou et al. 2011): per subspace, `k` centroids seeded
    * from the `k` lowest-id vectors' subvectors (the same deterministic
    * init as [[ivfTopK]]'s coarse quantizer) and refined by ONE
    * distributed Lloyd step — assign every subvector to its nearest
    * seed under L2 ([[graft.expressions.PqAssign]], one narrow compiled
    * pass), then average members per (subspace, cell, dim) with
    * map-side combine. Cells with no members keep their seed (the
    * standard empty-cell rule). Collected values are `round(_, 6)` so
    * the model is restatable cross-engine; the collect is M×k×subDim
    * doubles — a model fetch, like [[kMeansCentroids]]'. More Lloyd
    * rounds would ride the same loop; one graded round pins the
    * mechanism.
    */
  def pqCodebook(corpus: DataFrame, idCol: String, embCol: String,
                 m: Int = PqSubspaces, k: Int = PqCells): Seq[Seq[Seq[Double]]] = {
    val seeds = corpus.orderBy(col(idCol)).limit(k)
      .select(col(embCol)).collect()
      .map(_.getAs[scala.collection.Seq[Float]](0).map(_.toDouble).toIndexedSeq)
    require(seeds.nonEmpty, "corpus must be non-empty")
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val seedCb: Seq[Seq[Seq[Double]]] = (0 until m).map(s =>
      seeds.toSeq.map(v => v.slice(s * sub, (s + 1) * sub).toSeq))
    val refined = corpus
      .select(graft.expressions.PqAssign(col(embCol), seedCb).as("codes"),
        posexplode(col(embCol)).as(Seq("p", "vf")))
      .select(expr(s"p div $sub").cast("int").as("subspace"),
        element_at(col("codes"), expr(s"p div $sub").cast("int") + 1).as("cell"),
        expr(s"p % $sub").cast("int").as("j"),
        col("vf").cast("double").as("v"))
      .groupBy("subspace", "cell", "j")
      .agg(round(avg(col("v")), 6).as("c"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getDouble(3)))
      .toMap
    (0 until m).map(s => (0 until k).map(c => (0 until sub).map(j =>
      refined.getOrElse((s, c, j), round6(seedCb(s)(c)(j))))))
  }

  /** PQ code assignment over the corpus: `(idCol, subspace, code)` rows
    * — each vector's L2-nearest centroid index per subspace under the
    * [[pqCodebook]] model. One narrow compiled pass + posexplode; no
    * join, no shuffle (the codebook rides the plan as a constant).
    */
  def pqCodes(corpus: DataFrame, idCol: String, embCol: String,
              m: Int = PqSubspaces, k: Int = PqCells): DataFrame = {
    val cb = pqCodebook(corpus, idCol, embCol, m, k)
    corpus.select(col(idCol),
        posexplode(graft.expressions.PqAssign(col(embCol), cb))
          .as(Seq("subspace", "code")))
      .select(col(idCol), col("subspace").cast("long").as("subspace"),
        col("code").cast("long").as("code"))
  }

  /** PQ ANN top-k for a BATCH of query vectors via asymmetric distance:
    * corpus vectors are scored through their 8-byte codes
    * ([[graft.expressions.PqAdcDot]]: exact query side × per-subspace
    * centroid, the inner-product ADC of MIPS retrieval), normalized by
    * the TRUE vector norms (stored scalars at index build, like the
    * codes) into an approximate cosine, and each query keeps its `k`
    * best by (cos DESC, id) through the same rank-limited window as
    * [[topKBatch]]. The corpus is coded ONCE (narrow pass), queries
    * broadcast — per (query, vector) work drops from `O(dim)` float
    * reads of the full vector to `O(dim)` multiply-adds against the
    * in-cache codebook + an M-byte code read, which is the PQ trade:
    * 32× less corpus data touched at the cost of quantization recall
    * (measured by [[recallAtK]] in q90).
    */
  def pqTopKBatch(corpus: DataFrame, idCol: String, embCol: String,
                  queries: DataFrame, qidCol: String, k: Int,
                  m: Int = PqSubspaces, cells: Int = PqCells): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val cb = pqCodebook(corpus, idCol, embCol, m, cells)
    val coded = corpus.select(col(idCol),
      graft.expressions.PqAssign(col(embCol), cb).as("__graft_codes"),
      VectorFns.norm(col(embCol)).as("__graft_nx"))
    val q = queries.select(col(qidCol).as("query_id"), col(embCol).as("q_emb"),
      VectorFns.norm(col(embCol)).as("__graft_nq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    coded.crossJoin(broadcast(q))
      .select(col("query_id"), col(idCol),
        round(graft.expressions.PqAdcDot(col("q_emb"), col("__graft_codes"), cb)
          / (col("__graft_nx") * col("__graft_nq")), 6).as("cos_sim"))
      .withColumn("__graft_rk", row_number().over(w))
      .filter(col("__graft_rk") <= k)
      .drop("__graft_rk")
  }

  /** The deterministic lowest-id seed fetch every untrained quantizer
    * default shares (IVF, SemDeDup, prototypicality, k-means init): a
    * bounded k-row collect, widened to double BEFORE collecting so
    * float-typed (embeddings table) and double-typed (hash-embed)
    * columns both seed — then narrowed to the stored-quantizer float
    * type (float values round-trip the widening exactly).
    */
  private def seedCentroids(corpus: DataFrame, idCol: String, embCol: String,
                            k: Int): Array[(Long, IndexedSeq[Float])] =
    corpus.orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast("long"), VectorFns.toDouble(col(embCol)))
      .collect()
      .map(r => (r.getLong(0),
        r.getAs[scala.collection.Seq[Double]](1).map(_.toFloat).toIndexedSeq))

  /** Train the IVF coarse quantizer in-engine: lowest-id seeds (the same
    * deterministic init [[ivfTopK]] defaults to), then `iters` k-means
    * steps. Each step collects k×dim doubles — a model fetch, like the
    * centroid literal it produces; empty cells keep their previous
    * centroid. Feed the result to [[ivfTopK]]-style assignment (cast to
    * float, as stored quantizers are). `iters = 0` returns the seeds
    * themselves — the single definition of seeding (q50 grades one step
    * from exactly these).
    */
  def kMeansCentroids(corpus: DataFrame, idCol: String, embCol: String,
                      k: Int, iters: Int): IndexedSeq[(Long, IndexedSeq[Float])] = {
    var cents = seedCentroids(corpus, idCol, embCol, k).toIndexedSeq
    for (_ <- 1 to iters) {
      val updated = kMeansStep(corpus, idCol, embCol, cents)
        .select(col("cell"), col("centroid")).collect()
        .map(r => (r.getLong(0),
          r.getAs[scala.collection.Seq[Double]](1).map(_.toFloat).toIndexedSeq))
        .toMap
      cents = cents.map { case (id, old) => (id, updated.getOrElse(id, old)) }
    }
    cents
  }

  /** LSH-banded near-dup PAIRS — the 100 TB replacement for the
    * quadratic [[nearDupPairs]]: signature bands bucket the corpus
    * (O(docs × bands) constant-width shuffle), [[Dedup.candidatePairs]]
    * enumerates same-bucket pairs (hot-bucket spill-safe), and
    * candidates get the exact cosine with per-row precomputed norms —
    * so every emitted pair is exactly verified, and recall follows the
    * banding curve (≈ 0.9999 at cos ≥ 0.9; weak pairs near the
    * threshold floor may be missed, which is the documented ANN trade).
    * The widened embedding frame is pinned behind one exchange on id so
    * the banded index and both verify sides reuse one materialization.
    *
    * `rowsPerBand` is the CORPUS-SIZE knob: expected bucket occupancy is
    * `n / 2^rowsPerBand` per band, so candidate volume grows as
    * `bands · n² / 2^rowsPerBand` — at a fixed width the pair step goes
    * QUADRATIC once n outgrows `2^rowsPerBand` (measured in the ×k scale
    * probe; see BASELINE.md). Grow rowsPerBand ~ log₂(n) to hold
    * occupancy (8 bits ≈ 10⁴–10⁵ vectors, 12 ≈ 10⁶, 16 ≈ 10⁷…), at the
    * banding-curve recall cost of fewer, more selective bands
    * (`bands = ⌊128 / rowsPerBand⌋`, remainder signature bits unused).
    *
    * The DEFAULT (`rowsPerBand = 0`) AUTO-SIZES from two cheap driver
    * aggregates: the corpus count (the [[autoRowsPerBand]] occupancy
    * floor, `clamp(⌈log₂(n/8)⌉, 8, 20)`) and the measured per-plane bit
    * biases ([[planeAgreeProbs]] → [[biasAwareRowsPerBand]]), which
    * widen past the floor when the corpus polarizes the hash planes —
    * the q154 shared-vocabulary regime, where occupancy-only sizing
    * saturates its buckets at ANY corpus size. On unbiased data the two
    * agree and both measured probe configs (2k → 8, 20k → 12;
    * BASELINE.md) are reproduced. Floor 8 keeps small corpora at the
    * graded band plan; cap 20 keeps ≥ 6 bands of recall. Graded
    * callers (q37/q69 via SharedFrames) PIN `rowsPerBand = 8`
    * explicitly — the oracles restate that configuration bit-for-bit
    * and must not move if testdata cardinality changes.
    */
  /** The auto-sizing curve behind `rowsPerBand = 0`: the band width
    * holding expected bucket occupancy at ~8 vectors
    * (`⌈log₂(n/8)⌉`), floored at the graded 8 bits and capped at 20
    * (≥ 6 bands of banding-curve recall). The occupancy target is
    * CALIBRATED to the two measured scale-probe configs, not guessed:
    * the graded 8-bit plan at the 2k-vector corpus (occupancy ~8) and
    * the measured-good 12-bit plan at 20k (occupancy ~5) — a looser
    * 32-occupancy curve was measured 1.8× slower at the 20k point
    * (BASELINE.md).
    */
  def autoRowsPerBand(n: Long): Int = {
    require(n >= 1, s"corpus size must be >= 1, got $n")
    val auto = math.ceil(math.log(n / 8.0) / math.log(2.0)).toInt
    math.min(20, math.max(8, auto))
  }

  /** Expected bucket occupancy the auto curves size for (~8 agreeing
    * mates per row per band — the calibration point of the measured
    * 2k→8 / 20k→12 probe configs). */
  private[graft] val AutoOccupancyTarget = 8.0

  /** Per-plane AGREEMENT probabilities measured on the corpus — the
    * bias-aware half of band auto-sizing. One bounded aggregate (128
    * partial-combining `avg`s over the signature bits, collected as a
    * single row) yields each plane's bit bias `p_i`; two independent
    * rows agree on plane i with probability `p_i² + (1-p_i)²` — exactly
    * ½ for an unbiased plane, approaching 1 as the corpus polarizes the
    * plane. Shared-vocabulary hashed embeddings are the measured
    * offender: every document leans toward the common-term direction,
    * many planes sit far from ½, and occupancy-only sizing (which
    * assumes ½ per bit) under-widths the bands into the saturated
    * regime (q154: 19.9 s → 6.3 s for identical output at 12 bits).
    */
  /** Target sample size for the bias measurement: at 16k rows each
    * plane bias carries a standard error of ~0.004 — far inside the
    * resolution the width decision needs (a whole bit of width moves
    * the per-band product by 2×). */
  private[graft] val AgreeProbSampleTarget = 16384L

  private[graft] def planeAgreeProbs(df: DataFrame, embCol: String,
                                     n: Long = 0L): IndexedSeq[Double] = {
    // above ~2× the sample target, estimate from a CONTENT-HASH sample:
    // deterministic under task retries and row order (a seeded `rand`
    // is neither), filtered BEFORE the signature kernel so the 128-
    // plane projection runs only on the sample — the auto default must
    // not cost a full corpus pass twice (measured: the unsampled bias
    // pass alone pushed the ×10 probe's auto ratio past its ≤2× bar)
    val every =
      if (n > 2 * AgreeProbSampleTarget) n / AgreeProbSampleTarget else 1L
    val src =
      if (every <= 1L) df
      else df.filter(pmod(xxhash64(col(embCol)), lit(every)) === 0)
    val aggs = (0 until Bits).map(i =>
      avg(element_at(col("sig"), i + 1)).as(s"b$i"))
    val row = src
      .select(signature(VectorFns.toDouble(col(embCol))).as("sig"))
      .agg(aggs.head, aggs.tail: _*).collect().head
    (0 until Bits).map { i =>
      val p = if (row.isNullAt(i)) 0.5 else row.getDouble(i)
      p * p + (1.0 - p) * (1.0 - p)
    }
  }

  /** Bias-aware band width: the smallest width in [[autoRowsPerBand]]'s
    * occupancy floor .. 20 whose every band holds expected agreeing
    * mates per row — `n · ∏_{i∈band}(p_i² + (1-p_i)²)` under a
    * per-plane independence model — at or under the calibrated
    * [[AutoOccupancyTarget]]. With unbiased planes the product is
    * `2^-w` and the rule REDUCES to the occupancy curve (both measured
    * design points reproduced bit-for-bit); with measured bias it
    * widens until the hottest band's expected occupancy is back at
    * target. Independence UNDERestimates collisions when planes
    * correlate (they do, mildly, on shared-vocab corpora), so the
    * chosen width is a floor, not an exact fix — the cap at 20 keeps
    * ≥ 6 bands of banding-curve recall either way.
    */
  def biasAwareRowsPerBand(n: Long, agree: IndexedSeq[Double]): Int = {
    require(n >= 1, s"corpus size must be >= 1, got $n")
    require(agree.length == Bits,
      s"need $Bits per-plane agreement probs, got ${agree.length}")
    val floor = autoRowsPerBand(n)
    (floor to 20).find { w =>
      val bands = Bits / w
      (0 until bands).forall { b =>
        n * (b * w until (b + 1) * w).map(agree).product <= AutoOccupancyTarget
      }
    }.getOrElse(20)
  }

  def lshNearDupPairs(df: DataFrame, idCol: String, embCol: String,
                      threshold: Double, rowsPerBand: Int = 0): DataFrame = {
    require(rowsPerBand == 0 ||
        (rowsPerBand >= 1 && rowsPerBand <= MaxRowsPerBand),
      s"rowsPerBand must be 0 (auto) or in [1, $MaxRowsPerBand] " +
        s"(the packed-long key holds band+1 above w bits, so w > " +
        s"$MaxRowsPerBand would overflow Long and alias buckets across " +
        s"bands), got $rowsPerBand")
    val rows =
      if (rowsPerBand > 0) rowsPerBand
      else {
        val n = math.max(df.count(), 1L)
        biasAwareRowsPerBand(n, planeAgreeProbs(df, embCol, n))
      }
    lshNearDupPairsFromSig(signatureFrame(df, idCol, embCol), threshold, rows)
  }

  /** The SIGNATURE FRAME the whole banded-pair family fans out from:
    * `(id, e_d, sig, n)` — widened embedding, 128-bit plane signature,
    * norm — pinned behind one hash exchange on id. The projection work
    * (float→double widening, the 128-plane dot products, the norm) is
    * the dominant narrow cost of every banded consumer; computing it
    * once and letting each consumer prune the columns it needs makes
    * ReusedExchange materialize the frame a single time per query —
    * and [[graft.queries.SharedFrames]] `localCheckpoint`s it so
    * SEPARATE graded queries over the same corpus (q37's 8-bit bands,
    * q156's 12-bit multi-probe, q160's auto composite over the
    * hash-embed corpus with q154) share one materialization, the
    * single-process stand-in for a cluster pipeline writing its
    * signature table once per dedup run.
    */
  private[graft] def signatureFrame(df: DataFrame, idCol: String,
                                    embCol: String): DataFrame =
    df.select(col(idCol).as("id"), VectorFns.toDouble(col(embCol)).as("e_d"))
      .repartition(col("id"))
      .select(col("id"), col("e_d"), signature(col("e_d")).as("sig"),
        VectorFns.norm(col("e_d")).as("n"))

  /** The packed-long band-bucket projection `(id, key)` of a
    * [[signatureFrame]] — `key = (band+1)·2^w + bits` — for the
    * self-join pair path; [[bandKeyStructs]], the store kind's keys,
    * derives from the same [[packedKeys]], so both band IDENTICALLY.
    */
  private def packedBandKeys(sigF: DataFrame, rows: Int): DataFrame =
    sigF.select(col("id"), explode(packedKeys(col("sig"), rows)).as("key"))

  /** The packed band keys of one signature, `array<bigint>` — the one
    * key formula every banded consumer derives from. */
  private def packedKeys(sig: Column, rows: Int): Column =
    transform(sequence(lit(0), lit(Bits / rows - 1)), b =>
      aggregate(sequence(lit(0), lit(rows - 1)),
        b.cast("long") + lit(1L),
        (a, r) => a * 2 + element_at(sig, b * rows + r + 1)))

  /** A packed key and its `rows` single-plane flips: plane `j` of the
    * block is bit `rows-1-j`, flipped by XOR with `1L << (rows-1-j)` —
    * an integer shift, exact at any width; the `(band+1)·2^w` prefix is
    * untouched, so flipped keys stay within their band's keyspace. */
  private def withFlips(key: Column, rows: Int): Column =
    concat(array(key), transform(sequence(lit(0), lit(rows - 1)), j =>
      key.bitwiseXOR(call_function("shiftleft", lit(1L),
        (lit(rows - 1) - j).cast("int")))))

  /** The [[IndexStore.Semantic]] kind's key function: a signature's
    * packed keys as `array<struct<key>>`, each widened by its ≤1-flip
    * neighbors when `flips` ≥ 1. */
  private[operators] def bandKeyStructs(sig: Column, rows: Int,
                                        flips: Int): Column = {
    val keys = packedKeys(sig, rows)
    transform(
      if (flips >= 1) flatten(transform(keys, k => withFlips(k, rows))) else keys,
      k => struct(k.as("key")))
  }

  /** The exact-cosine verify of candidate pairs (the
    * [[IndexStore.Semantic]] kind's `verify`): `pairs` carries the
    * incoming side's `e_d_i`/`n_i` and the standing side's `e_d_c`/`n_c`;
    * the pairs at cosine ≥ `threshold` are kept. Both store probe paths
    * verify through it, so their float arithmetic is the same by
    * construction. */
  private[operators] def cosineVerify(pairs: DataFrame,
                                      threshold: Double): DataFrame =
    pairs.filter(VectorFns.dot(col("e_d_i"), col("e_d_c")) /
      (col("n_i") * col("n_c")) >= threshold)

  /** INCREMENTAL plane-signature near-dup — [[graft.operators.Dedup.deltaNearDup]]'s
    * contract for the SEMANTIC regime: classify every `incoming` vector
    * against a standing corpus represented by a persisted
    * [[signatureFrame]] (`(id, e_d, sig, n)` — the same frame the
    * batch pair family and q154/q160 share; append-only maintenance:
    * admitted `new` rows' signature rows are unioned in, nothing
    * corpus-sided recomputed — the hyperplane model is a data-independent
    * hash, so signatures built in different runs band identically).
    * Statuses mirror the q74/q167 contract: `dup_of_corpus`
    * (some corpus vector at cosine ≥ `threshold`; `dup_of` = smallest
    * such corpus id), `dup_in_batch` (no corpus match but a smaller-id
    * batch vector is threshold-similar), `new`.
    *
    * The probe is [[IndexStore.deltaProbe]] over the semantic kind. Per
    * batch the cost is the batch-side signature pass plus
    * O(batch × bands) broadcast probe keys against streaming narrow
    * scans of the index (never an O(index) exchange), plus the
    * within-batch [[lshNearDupPairsFromSig]] leg — never a corpus×corpus
    * term or an embedding re-scan (plan-guarded in PlanSpec). Every
    * candidate is exact-cosine verified against the stored widened
    * vectors, so decisions are exact wherever banding recalls the pair —
    * identical to the batch family's guarantee at the same `rowsPerBand`;
    * multi-band duplicate candidates collapse AFTER the verify inside
    * the min() keeper aggregates (the post-verify-dedup lesson).
    */
  def deltaSemNearDup(index: DataFrame, incoming: DataFrame, idCol: String,
                      embCol: String, threshold: Double,
                      rowsPerBand: Int, flips: Int = 0,
                      hotBucketDrop: Int = 0): DataFrame =
    // the batch-side signature frame feeds three consumers (probe keys,
    // verify join, within-batch leg) whose join-inferred
    // isnotnull(n)/isnotnull(sig) constraints push below the pinned
    // exchange and defeat ReusedExchange (measured: a second batch scan
    // with the sqrt(vec_dot(..)) filter rewritten into it), so the
    // batch signatures are MATERIALIZED once — which is also the
    // deployment shape: an incremental run writes the batch's signature
    // rows anyway, because the admitted `new` rows append to the index
    IndexStore.deltaProbe(IndexStore.Semantic, index, incoming.select(col(idCol)),
      signatureFrame(incoming, idCol, embCol).localCheckpoint(),
      idCol, threshold, rowsPerBand, flips, hotBucketDrop)

  /** [[deltaSemNearDup]] from a pre-built incoming-batch
    * [[signatureFrame]] — the shared-frame entry point the semantic
    * ADMIT-THEN-PROBE sequence (q180) wants, mirroring
    * [[graft.operators.Dedup.deltaNearDupFromIndex]]: the batch's
    * signature rows serve the probe AND, for the rows classified `new`,
    * the append that grows the standing frame — computed once, because
    * an ingest pipeline persists them anyway (the admitted subset IS
    * the index growth). `incomingIds` is the batch's id frame (one
    * `idCol` column): the decision output covers every batch vector, so
    * the id universe is explicit rather than inferred from the
    * signature rows. The caller owns `incomingIndex`'s materialization
    * (checkpoint/persist) — passing a lazy plan re-runs the signature
    * pass once per consumer.
    */
  def deltaSemNearDupFromIndex(index: DataFrame, incomingIds: DataFrame,
                               incomingIndex: DataFrame, idCol: String,
                               threshold: Double,
                               rowsPerBand: Int, flips: Int = 0,
                               hotBucketDrop: Int = 0,
                               maxFetchBroadcastIds: Long =
                                 IndexStore.MaxFetchBroadcastIds,
                               knownCandCount: Option[Long] = None)
      : DataFrame =
    IndexStore.deltaProbe(IndexStore.Semantic, index, incomingIds, incomingIndex,
      idCol, threshold, rowsPerBand, flips, hotBucketDrop,
      maxFetchBroadcastIds = maxFetchBroadcastIds, knownCandCount = knownCandCount)

  // ------------------------------------ persisted signature-frame store

  /* The signature store is [[IndexStore.Semantic]]: a [[signatureFrame]]
   * persisted probe-prunable, banded at its RECORDED `rowsPerBand`. As
   * the corpus grows past the width's occupancy design point,
   * [[IndexStore.reband]] rebuilds `banded/` at a new width from the
   * STORED signatures (the hyperplane model is data-independent, so no
   * embedding rescan is ever needed).
   *
   * WHEN THE STORE WINS (PROBES_r20 `sem_store_decade`, three scales):
   * unlike the lexical index store (which beats the in-memory probe 5–7×
   * at 5M docs), the signature store LOSES to the checkpointed in-memory
   * probe at every measured scale — 2.50× at 200k, 2.55× at 1M (same
   * width: the ratio is width-governed, not scale-governed), 1.41× at 5M
   * (where the probe budget steps the width to 15 bits). The payload row
   * is narrow (no shingle arrays), so the streaming scan it competes with
   * stays cheap, and 1-flip probing multiplies the probed bucket set
   * ((w+1)·bands keys per vector) until pruning degenerates into a full
   * banded read plus per-bucket overhead. Keep the probing frame
   * checkpointed in memory for speed (at least through 10⁷ vectors) and
   * use this store for durability, restart, and cross-job handoff —
   * [[readSignatureStore]] + [[storedRowsPerBand]] are that bridge.
   */

  /** Append-only maintenance: admitted rows' [[signatureFrame]] rows
    * (already computed for the probe — the q180 shared-frame shape)
    * land in both tables ([[IndexStore.append]]). */
  def appendSignatureStore(spark: SparkSession, rawPath: String,
                           newRows: DataFrame): Unit =
    IndexStore.append(spark, IndexStore.Semantic, rawPath, newRows)

  /** [[deltaSemNearDup]] against a persisted [[IndexStore.Semantic]]
    * store — [[graft.operators.Dedup.deltaNearDupFromStore]]'s contract
    * in the embedding regime, at the store's recorded `rowsPerBand`;
    * `flips = 1` carries the 1-plane probe repair onto the store path
    * (the batch side probes its ≤1-flip neighbor keys — the flip keys
    * just widen the probed bucket set; nothing store-sided changes,
    * since candidates still meet on the index's exact keys). The flip
    * decision is the caller's PROBE POLICY, pinned explicitly because it
    * is part of a graded query's candidate contract. A delta takes the
    * path [[IndexStore.probe]] picks; decisions are identical to
    * [[deltaSemNearDupFromIndex]] over the full frame at that
    * `(width, flips)` either way.
    */
  def deltaSemNearDupFromStore(spark: SparkSession, rawPath: String,
                               incomingIds: DataFrame,
                               incomingIndex: DataFrame, idCol: String,
                               threshold: Double,
                               flips: Int = 0): DataFrame =
    IndexStore.probe(spark, IndexStore.Semantic, rawPath, incomingIds,
      incomingIndex, idCol, threshold, flips).decisions

  /** The recorded banding width of a persisted signature store — the
    * width [[readSignatureStore]]-then-[[deltaSemNearDupFromIndex]]
    * callers probe at to reproduce the store path's decisions. */
  def storedRowsPerBand(spark: SparkSession, rawPath: String): Int =
    IndexStore.layout(spark, IndexStore.Semantic,
      IndexStore.resolveStoreDir(spark, rawPath)).width

  /** Read a persisted signature store back as its [[signatureFrame]]
    * — the durability→speed bridge the decade measurement prescribes:
    * a restarting pipeline reads the store ONCE, `localCheckpoint()`s
    * the result, and probes via [[deltaSemNearDupFromIndex]] at the
    * store's recorded width ([[storedRowsPerBand]]). `banded/` is never
    * read (band keys re-derive from `sig` at any width).
    */
  def readSignatureStore(spark: SparkSession, rawPath: String): DataFrame =
    IndexStore.read(spark, IndexStore.Semantic, rawPath)

  /** Create a managed [[IndexStore.Semantic]] root
    * ([[IndexStore.initManaged]]). */
  def initManagedSignatureStore(spark: SparkSession, root: String,
                                sigF: DataFrame, rowsPerBand: Int,
                                bandBuckets: Int = 256,
                                idBuckets: Int = 256): Unit =
    IndexStore.initManaged(spark, IndexStore.Semantic, root, sigF,
      rowsPerBand, bandBuckets, idBuckets)

  /** Live retention maintenance of a managed signature root
    * ([[IndexStore.maintainManaged]]). Returns the retired version's
    * directory. */
  def compactManagedSignatureStore(spark: SparkSession, root: String,
                                   keepIds: DataFrame): String =
    IndexStore.compactManaged(spark, IndexStore.Semantic, root, keepIds)

  /** [[lshNearDupPairs]] from a pre-built [[signatureFrame]] — the
    * shared-frame entry point (`rowsPerBand` must be explicit here; the
    * auto sizing needs the raw corpus).
    */
  private[graft] def lshNearDupPairsFromSig(sigF: DataFrame, threshold: Double,
                                            rowsPerBand: Int): DataFrame = {
    val rows = rowsPerBand
    val bands = Bits / rows
    // bucket key PACKED into one long — `(band+1)·2^w + bits` — instead
    // of an underscore-joined string: the key is pure join/shuffle
    // currency (the oracles restate candidates by comparing bit SLICES,
    // never key encodings), and 8-byte numeric comparisons beat 25-40
    // byte string comparisons through every sort/merge/exchange of the
    // candidate joins
    val banded = packedBandKeys(sigF, rows)
    // Same-bucket candidates from a streamed sort-merge SELF-JOIN with
    // `id_a < id_b` pushed into the join, deduped AFTER the exact
    // verify (the multi-probe lesson, measured on the same corpus:
    // [[Dedup.candidatePairs]]' bucket census + collect_set buffering +
    // pre-verify distinct cost 7.3 s where the join formulation costs
    // 1.6 s at the heavy-tail ~700 occupancy of the hash-embed corpus;
    // the verify is a keyed join + one dot product, so distinct-ing the
    // threshold survivors shuffles strictly less at every band-
    // duplication factor). Bucket-size control here is the band-width
    // knob itself (auto-sizing holds expected occupancy ~8; a
    // pathological bucket streams through the merge without buffering —
    // a straggler, never an OOM). The LEXICAL family keeps
    // candidatePairs: shingle document frequency is uncontrolled there,
    // which is exactly what its hot-bucket salting exists for.
    // left side key-spread — same rationale as the multi-probe path's
    // candidate joins (the at-scale SMJ exchange; parallel emission)
    val left = banded.select(col("id").as("id_a"), col("key"))
      .repartition(col("key"))
    val right = banded.select(col("id").as("id_b"), col("key"))
    val cand = left.join(right, Seq("key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val withNorm = sigF.select(col("id"), col("e_d"), col("n"))
    // id_a hash-spread before the verify joins — same rationale as the
    // multi-probe path below (the at-scale join key; parallelizes the
    // dot-product verify when the signature frame is narrow)
    cand.repartition(col("id_a"))
      .join(withNorm.select(col("id").as("id_a"), col("e_d").as("e_a"),
        col("n").as("n_a")), "id_a")
      .join(withNorm.select(col("id").as("id_b"), col("e_d").as("e_b"),
        col("n").as("n_b")), "id_b")
      .withColumn("cos_sim",
        VectorFns.dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_sim"), 6).as("cos_sim"))
      .distinct()
  }

  /** MULTI-PROBE banded LSH pairs (Lv et al. 2007, "Multi-probe LSH",
    * applied to the pair path): wide bands control candidate volume —
    * the measured corpus-size/bias knob — but pay banding-curve recall
    * for pairs hugging the threshold (skew probe, BASELINE.md: at 11
    * bits a cos≈0.84 hot cluster kept only ~0.57 of its pairs). This
    * variant recovers that recall WITHOUT narrowing: each vector probes
    * its exact band buckets plus every 1-bit-flipped neighbor bucket,
    * so a pair is a candidate when some band differs in ≤ 1 plane —
    * per-band collision `p^w + w·p^(w-1)(1-p)` instead of `p^w` (at
    * p = 0.82, w = 11: 0.37 vs 0.10 — pair recall 0.994 vs 0.71 over
    * 11 bands).
    *
    * Scale shape: the probe side carries `bands·(1 + zeros)` constant-
    * width rows per vector — only a vector's ZERO planes are flipped
    * (E ≈ w/2 per band; the 0-side of any 1-plane-differing pair meets
    * the 1-side's exact key, so the candidate set is the full ≤1-flip
    * set, discovered once instead of twice), still O(n), never
    * O(n²) — the index side stays at `bands`; candidates
    * come from one equi-join probe-key = index-key and every emitted
    * pair is exact-cosine verified, so output ⊆ the brute-force pairs
    * and recall is the only approximation. Output matches
    * [[lshNearDupPairs]]' schema and is a SUPERSET of its pairs at the
    * same width (the exact key is among the probes).
    */
  def lshNearDupPairsMultiProbe(df: DataFrame, idCol: String, embCol: String,
                                threshold: Double, rowsPerBand: Int,
                                flips: Int = 1): DataFrame =
    lshNearDupPairsMultiProbeFromSig(signatureFrame(df, idCol, embCol),
      threshold, rowsPerBand, flips)

  /** [[lshNearDupPairsMultiProbe]] from a pre-built [[signatureFrame]] —
    * the shared-frame entry point (q156/q160 reuse one checkpointed
    * signature materialization per corpus).
    */
  private[graft] def lshNearDupPairsMultiProbeFromSig(
      sigF: DataFrame, threshold: Double, rowsPerBand: Int,
      flips: Int = 1): DataFrame = {
    require(rowsPerBand >= 1 && rowsPerBand <= MaxRowsPerBand,
      s"rowsPerBand must be in [1, $MaxRowsPerBand] (packed-long key " +
        s"bound — see lshNearDupPairsFromSig), got $rowsPerBand")
    require(flips == 0 || flips == 1,
      s"flips must be 0 (exact only) or 1 (single-plane probes), got $flips")
    val rows = rowsPerBand
    val bands = Bits / rows
    val sig = sigF
    def bandBits(b: Column): Column =
      transform(sequence(lit(0), lit(rows - 1)), r =>
        element_at(col("sig"), b * rows + r + 1))
    // packed-long bucket key `(band+1)·2^w + bits` (see
    // [[lshNearDupPairsFromSig]] — same rationale, same encoding)
    def keyOf(b: Column, bits: Column): Column =
      aggregate(bits, b.cast("long") + lit(1L), (a, x) => a * 2 + x)
    val index = sig.select(col("id").as("id_b"),
      explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        keyOf(b, bandBits(b)))).as("key"))
    // Candidates come from TWO joins whose raw volumes are each kept
    // minimal, then union-distinct:
    //  - SAME-bucket pairs: the index self-joined with `id_a < id_b`
    //    pushed into the join (each unordered pair emitted once).
    //  - CROSS-bucket pairs (the probe repair): only the ZERO planes
    //    are flipped — a pair differing in exactly one plane of a band
    //    has a 0 on one side and a 1 on the other, so the 0-side
    //    flipping its 0 meets the 1-side's EXACT key; the full
    //    ≤1-differing-plane candidate set (the set the oracle restates)
    //    is covered with E[w/2] probe keys per band instead of w, each
    //    cross pair discovered from one direction and canonicalized
    //    with least/greatest (a `<` filter would drop pairs whose
    //    prober is the larger id — caught by the oracle).
    // The first cut probed exact+flipped keys from both sides under
    // one `<` filter; splitting the joins halves the probe rows AND
    // stops the exact part double-emitting (measured 14.8 s → see
    // BASELINE round-14 for the landed number on the q160 corpus).
    // the probe side of each candidate join is hash-spread on the key
    // (optimization round 21): a narrow signature frame otherwise feeds
    // the whole join through 1-2 partitions and the (heavy-tailed)
    // candidate emission runs near-serial; at scale a sort-merge join
    // hash-partitions this side by exactly this key, so the exchange is
    // the one the big plan already pays, not an extra one.
    val exactCand = index.select(col("id_b").as("id_a"), col("key"))
      .repartition(col("key"))
      .join(index, "key")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val cand =
      if (flips == 0) exactCand
      else {
        // zeros-only flip keys derived from the PACKED exact key in a
        // second projection (optimization round 21): plane j of the
        // block is bit `rows-1-j` of the key, so "flip a zero plane" is
        // `key XOR (1L << (rows-1-j))` guarded on that bit being 0 —
        // bit-identical to re-folding the flipped bit vector, but the
        // per-element work is two integer ops on a scalar attribute
        // instead of a captured w-element fold re-evaluated per probe
        // (the interpreted-HOF O(w²) gotcha; measured dominating q160's
        // candidate stage).
        val keyed = sig.select(col("id").as("id_a"),
          explode(transform(sequence(lit(0), lit(bands - 1)), b =>
            keyOf(b, bandBits(b)))).as("key"))
        val flipped = filter(
          transform(sequence(lit(0), lit(rows - 1)), j =>
            when(call_function("shiftright", col("key"),
                (lit(rows - 1) - j).cast("int")).bitwiseAND(lit(1L)) === 0,
              col("key").bitwiseXOR(call_function("shiftleft", lit(1L),
                (lit(rows - 1) - j).cast("int"))))),
          x => x.isNotNull)
        val probes = keyed.select(col("id_a"), explode(flipped).as("key"))
          .repartition(col("key"))
        val probeCand = probes.join(index, "key")
          .filter(col("id_a") =!= col("id_b"))
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"))
        exactCand.unionByName(probeCand)
      }
    // Dedup AFTER the verify, not before: a pair colliding in k bands
    // rides the raw candidate stream k times, but verification is a
    // broadcast/keyed join + one dot product — map-side work in the
    // same stage — while a pre-verify distinct is a FULL shuffle of the
    // raw stream (measured dominating the whole query: ~10 s of a 19 s
    // run at 18.8M raw / 8.9M distinct candidates). Verifying the raw
    // stream and dropping duplicates among the (orders-of-magnitude
    // smaller, threshold-surviving) verified pairs does strictly less
    // shuffling at every duplication factor, and the rounded cosine is
    // a pure function of the pair, so the late distinct collapses the
    // k copies to the identical single row.
    val withNorm = sigF.select(col("id"), col("e_d"), col("n"))
    // the raw candidate stream is hash-spread on id_a BEFORE the verify
    // joins (optimization round 21, guide §2): when the signature frame
    // is narrow (a checkpointed small-corpus frame coalesces to 1-2
    // partitions and the withNorm joins broadcast), the whole
    // candidate+dot-product pipeline otherwise fuses into ONE near-
    // serial stage — measured 5.3 s in a 2-task stage on q160's corpus.
    // At scale the id_a verify join shuffles the stream by exactly this
    // key anyway (withNorm outgrows the broadcast threshold), so the
    // exchange adds nothing the big plan wasn't already paying; the
    // per-pair cosine is an in-row fold, so partitioning cannot move
    // the output.
    cand.repartition(col("id_a"))
      .join(withNorm.select(col("id").as("id_a"), col("e_d").as("e_a"),
        col("n").as("n_a")), "id_a")
      .join(withNorm.select(col("id").as("id_b"), col("e_d").as("e_b"),
        col("n").as("n_b")), "id_b")
      .withColumn("cos_sim",
        VectorFns.dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_sim"), 6).as("cos_sim"))
      .distinct()
  }

  /** CLUSTER-BALANCED mixture weights — the no-metadata counterpart to
    * source/language mixtures (q59/q94): when the corpus has no usable
    * provenance strata (one giant crawl dump), balance over SEMANTIC
    * cells instead. Every document is assigned to its max-cosine cell
    * over `k` seeded centroids (the [[kMeansCentroids]] iters=0
    * seeding — first k rows by id — and the same in-row argmax as
    * [[kMeansStep]]/[[ivfTopK]]: ties to the lowest centroid id, no
    * join, no row blowup), then
    * [[graft.operators.Curation.temperatureWeights]] runs over the
    * cells: natural token share, `p^α`-flattened target share, and the
    * up/down-sampling weight per cell, directly consumable by
    * `applyMixture`. Scale shape: one narrow argmax pass (centroids are
    * a k-row literal) + the tiny strata aggregate — nothing grows with
    * the corpus but the one keyed count.
    */
  def clusterMixtureWeights(corpus: DataFrame, idCol: String, embCol: String,
                            tokensCol: Column, k: Int, alpha: Double,
                            centroids: Option[Seq[(Long, IndexedSeq[Double])]] =
                              None): DataFrame =
    Curation.temperatureWeights(
      clusterAssign(corpus, idCol, embCol, k, centroids), "cell", tokensCol,
      alpha)

  /** The cell-assignment half of [[clusterMixtureWeights]], exposed so
    * the mixture EXECUTION (`applyMixture` keyed by cell — q159) runs
    * over the same assignment the weights were derived from: the
    * corpus plus a `cell` column (max-cosine over the first-k seeded
    * centroids, ties to the lowest centroid id, in-row argmax over a
    * k-row literal — no join, no shuffle).
    */
  def clusterAssign(corpus: DataFrame, idCol: String, embCol: String, k: Int,
                    centroids: Option[Seq[(Long, IndexedSeq[Double])]] = None)
      : DataFrame =
    clusterRoute(corpus, corpus, idCol, embCol, k, centroids)

  /** STREAM-SAFE cell routing: the [[clusterAssign]] argmax with seeds
    * collected from a separate BATCH seed corpus, applied to any frame —
    * including a Structured Streaming micro-batch (the projection is a
    * k-row-literal argmax: no shuffle, no state, no collect on the
    * routed frame). Ingest-time semantic routing for the cluster
    * mixture: route arriving documents to their cell, then apply the
    * batch-derived q158 weights as a broadcast join downstream.
    */
  def clusterRoute(df: DataFrame, seedCorpus: DataFrame, idCol: String,
                   embCol: String, k: Int,
                   centroids: Option[Seq[(Long, IndexedSeq[Double])]] = None)
      : DataFrame = {
    require(k >= 1, s"need at least one cell, got $k")
    // seeds are widened to double BEFORE the bounded collect, so the
    // routing accepts both float-typed (embeddings table) and
    // double-typed (hash-embed) columns like its siblings; a trained
    // model ([[kMeansCentroids]], widened driver-side) may replace the
    // first-k seeds — the same Option convention as [[semDedup]]
    val cents = centroids.map(_.toIndexedSeq).getOrElse(
      seedCorpus.orderBy(col(idCol)).limit(k)
        .select(col(idCol).cast("long"), VectorFns.toDouble(col(embCol)))
        .collect()
        .map(r => (r.getLong(0),
          r.getAs[scala.collection.Seq[Double]](1).toIndexedSeq))
        .toIndexedSeq)
    val centArr = typedlit(cents)
    val cell = element_at(array_sort(transform(centArr, c => struct(
      (lit(0.0) - VectorFns.cosine(col(embCol), c.getField("_2"))).as("neg_cos"),
      c.getField("_1").as("cent")))), 1).getField("cent")
    df.withColumn("cell", cell)
  }

  /** The near-dup pair path with BOTH auto knobs engaged — the
    * composite the round-13 measurements argue for: band width sizes
    * itself from the corpus count and the measured plane biases
    * ([[biasAwareRowsPerBand]] — the candidate-VOLUME control), and
    * whenever the resolved width exceeds the graded 8-bit floor the
    * 1-plane multi-probe engages ([[lshNearDupPairsMultiProbe]] — the
    * RECALL repair, measured 0.738 → 0.995 at 12 bits on the hashed
    * documents corpus). Narrow corpora stay on the plain banded plan
    * (probing would only add cost where the banding curve is already
    * dense). Unpinned by design — graded callers pin their
    * configuration explicitly; this is the deployment default.
    */
  def nearDupPairsAuto(df: DataFrame, idCol: String, embCol: String,
                       threshold: Double,
                       recallTarget: Double = 0.9): DataFrame = {
    val n = math.max(df.count(), 1L)
    val volumeW = biasAwareRowsPerBand(n, planeAgreeProbs(df, embCol, n))
    val w = math.min(volumeW, recallCapRowsPerBand(threshold, recallTarget))
    // the floor branch validates against the curve of the plan it
    // actually runs: the recall cap models 1-flip probing, but narrow
    // corpora take the PLAIN banded plan — when the no-probe curve at
    // 8 bits already meets the target (dense banding: 16 bands), probing
    // would only add candidate volume; when it misses (low thresholds /
    // strict targets — the f(0.3, 0.99) regime), probe AT the floor so
    // the caller's recallTarget is honored as far as the width range
    // allows instead of silently shipping the weaker plain curve
    if (w <= 8) {
      if (bandingRecall(threshold, 8, flips = 0) >= recallTarget)
        lshNearDupPairs(df, idCol, embCol, threshold, rowsPerBand = 8)
      else
        lshNearDupPairsMultiProbe(df, idCol, embCol, threshold, rowsPerBand = 8)
    } else
      lshNearDupPairsMultiProbe(df, idCol, embCol, threshold, rowsPerBand = w)
  }

  /** [[nearDupPairsAuto]] from a pre-built [[signatureFrame]]: both auto
    * knobs resolve FROM the frame — the count is a cheap pass over the
    * checkpointed RDD, and the plane biases average the already-computed
    * `sig` column ([[planeAgreeProbsFromSig]]) instead of re-running the
    * projection on a sample — so the graded composite (q160) shares one
    * signature materialization with its pinned sibling (q154).
    */
  def nearDupPairsAutoFromSig(sigF: DataFrame, threshold: Double,
                              recallTarget: Double = 0.9): DataFrame = {
    val n = math.max(sigF.count(), 1L)
    val volumeW = biasAwareRowsPerBand(n, planeAgreeProbsFromSig(sigF, n))
    val w = math.min(volumeW, recallCapRowsPerBand(threshold, recallTarget))
    if (w <= 8) {
      if (bandingRecall(threshold, 8, flips = 0) >= recallTarget)
        lshNearDupPairsFromSig(sigF, threshold, rowsPerBand = 8)
      else
        lshNearDupPairsMultiProbeFromSig(sigF, threshold, rowsPerBand = 8)
    } else
      lshNearDupPairsMultiProbeFromSig(sigF, threshold, rowsPerBand = w)
  }

  /** [[planeAgreeProbs]] over a pre-built [[signatureFrame]]: the same
    * content-hash sampling rule (keyed on the widened embedding — the
    * sample set may differ from the raw-column variant's, which is why
    * width pins carry their own drift guards) but the 128-plane
    * projection is READ from the frame's `sig` column, not recomputed.
    */
  private[graft] def planeAgreeProbsFromSig(sigF: DataFrame,
                                            n: Long): IndexedSeq[Double] = {
    val every =
      if (n > 2 * AgreeProbSampleTarget) n / AgreeProbSampleTarget else 1L
    val src =
      if (every <= 1L) sigF
      else sigF.filter(pmod(xxhash64(col("e_d")), lit(every)) === 0)
    val aggs = (0 until Bits).map(i =>
      avg(element_at(col("sig"), i + 1)).as(s"b$i"))
    val row = src.agg(aggs.head, aggs.tail: _*).collect().head
    (0 until Bits).map { i =>
      val p = if (row.isNullAt(i)) 0.5 else row.getDouble(i)
      p * p + (1.0 - p) * (1.0 - p)
    }
  }

  /** The RECALL constraint on band width, closed-form: the widest width
    * in [8, 20] whose predicted banding-curve recall AT THE THRESHOLD
    * cosine — per-band collision `p^w + w·p^(w-1)(1-p)` under 1-plane
    * probing, `p = 1 − arccos(θ)/π`, over `⌊128/w⌋` bands — stays at or
    * above `target`. Pairs above the threshold only do better (p grows
    * with cosine), so this bounds the WORST admissible pair.
    * [[nearDupPairsAuto]] takes `min(volume width, recall width)`: the
    * bias-aware knob may want 17 bits on a polarized corpus, but at
    * θ = 0.8 the widest 1-flip-probed width holding 0.9 recall is 12 —
    * measured 0.995 there vs 0.811 at 17 (the test that forced this
    * constraint into the composite). When the floors conflict, recall
    * wins and candidate volume is paid — the verifier keeps the output
    * exact either way; only completeness was ever at stake.
    */
  def recallCapRowsPerBand(threshold: Double, target: Double): Int = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(target > 0.0 && target < 1.0,
      s"recall target must be in (0, 1), got $target")
    (8 to 20).reverse.find(bandingRecall(threshold, _, flips = 1) >= target)
      .getOrElse(8)
  }

  /** Predicted banding-curve recall for a pair AT the threshold cosine:
    * per-band collision `p^w` plain, `p^w + w·p^(w-1)(1-p)` under 1-flip
    * probing, `p = 1 − arccos(θ)/π`, over `⌊128/w⌋` bands. Pairs above
    * the threshold only do better (p grows with cosine), so this bounds
    * the worst admissible pair — the shared model behind
    * [[recallCapRowsPerBand]] and [[nearDupPairsAuto]]'s floor branch.
    */
  private[graft] def bandingRecall(threshold: Double, w: Int,
                                   flips: Int): Double = {
    val p = 1.0 - math.acos(math.min(threshold, 1.0)) / math.Pi
    val perBand = math.pow(p, w) +
      (if (flips >= 1) w * math.pow(p, w - 1) * (1.0 - p) else 0.0)
    1.0 - math.pow(1.0 - perBand, Bits / w)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): embedding-space
    * near-duplicate removal bounded by a coarse k-means partition — the
    * clustered alternative to [[lshNearDupPairs]]' banding. Every vector
    * is assigned to its max-cosine cell by the same in-row argmax as
    * [[ivfTopK]] (one narrow pass, no join), candidate pairs are
    * enumerated WITHIN cells only, verified with the exact cosine, and
    * each connected component keeps ONE representative — per the paper's
    * policy, the member with the LOWEST cosine to its cell centroid
    * (keep the least stereotypical copy; ties to the smallest id).
    * Emits `(idCol, cell, cluster, cent_sim, keep)` — `cent_sim` the
    * rounded centroid cosine the election orders by, singletons always
    * kept.
    *
    * Scale shape: the quantizer is a MODEL (nCells × dim floats,
    * inlined), so assignment shuffles nothing; the pair step inherits
    * [[graft.operators.Dedup.candidatePairs]]' hot-bucket salting, and
    * the representative window partitions by near-dup cluster (small by
    * construction). The paper's trade is explicit: duplicates split
    * across cells are missed, and `nCells` must GROW with the corpus
    * (they run 11k clusters on LAION) to keep the within-cell pair
    * count — the `Σ cell²` term — bounded; pass a
    * [[kMeansCentroids]]-trained model for tighter (= smaller-error)
    * cells, the default being the deterministic lowest-id seeds.
    *
    * '''BEHAVIOR CHANGE (round 14):''' the default `maxCell` moved from
    * `0` (sub-split OFF) to `-1` (census-driven AUTO). Under the
    * default, a cell estimated past [[SemDedupSplitFloor]] (~2048)
    * members now enumerates candidates within plane-signature
    * SUB-cells, which DROPS cross-sub-cell pairs — a recall-affecting
    * output change for large collapsed cells, not just a cost change
    * (small corpora are unaffected: below the floor the plan is
    * bit-identical to `maxCell = 0`). Callers that need the exact
    * unsplit enumeration (every graded oracle does) must pin
    * `maxCell = 0` explicitly.
    */
  /** Census crossover for the AUTO sub-split (`maxCell = -1`): cells at
    * or under this size enumerate unsplit — the measured net-NEGATIVE
    * regime, where the split's fixed cost exceeds its candidate savings
    * (splitting a 1k-member hot cell measured slower than enumerating
    * it; BASELINE.md round-13) — while larger cells split toward
    * [[SemDedupSplitTarget]]-sized sub-cells (the ×5 probe: the 5k hot
    * cell 1.69× faster at target 256, 1.25k cells already net-positive
    * there). The measured points bracket the crossover loosely around
    * ~1–2k; the floor sits at the top of that band so the sampled
    * estimate (±1/√samples) cannot flip a known-net-negative cell in.
    */
  private[graft] val SemDedupSplitFloor = 2048
  private[graft] val SemDedupSplitTarget = 256

  def semDedup(corpus: DataFrame, idCol: String, embCol: String,
               threshold: Double, nCells: Int = 8,
               centroids: Option[Seq[(Long, IndexedSeq[Float])]] = None,
               maxCell: Int = -1)
      : DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(maxCell >= -1,
      s"maxCell must be -1 (auto), 0 (off), or a positive bound; got $maxCell")
    val cents = centroids.map(_.toArray).getOrElse(
      seedCentroids(corpus, idCol, embCol, nCells))
    val centArr = typedlit(cents.toIndexedSeq)
    val ranked = array_sort(transform(centArr, c =>
      struct(
        (lit(0.0) - VectorFns.cosine(col(embCol), c.getField("_2"))).as("neg_cos"),
        c.getField("_1").as("cent"))))
    val assigned = corpus
      .select(col(idCol), col(embCol), element_at(ranked, 1).as("top"))
      .select(col(idCol).as("id"),
        VectorFns.toDouble(col(embCol)).as("e_d"),
        col("top").getField("cent").as("cell"),
        round(lit(0.0) - col("top").getField("neg_cos"), 6).as("cent_sim"))
      .repartition(col("id"))
    val withNorm = assigned.withColumn("n", VectorFns.norm(col("e_d")))
    // Hot-cell SUB-SPLIT (`maxCell` > 0): a cell holding a large corpus
    // share (collapsed clustering — the skew probe measured a 50% hot
    // cluster at 3.7× benign) makes the within-cell enumeration
    // O(cell²), which salting can spread but not shrink. Cells over
    // `maxCell` are split by their members' leading plane-signature
    // bits (⌈log₂(cell/maxCell)⌉ bits, capped at 8) and candidates are
    // enumerated within SUB-cells. This is the paper's own cell bound
    // applied recursively — SemDeDup already forgoes cross-CELL pairs
    // by design, so forgoing cross-SUB-cell pairs within a pathological
    // cell is the same approximation one level down: geometry-aware
    // (plane bits keep near-identical members together; only the
    // genuinely spread mass of a collapsed cell separates), never
    // wrong-pair-producing (every emitted pair still passes the exact
    // cosine), and the cost of a split cell is bounded per sub-cell.
    // The DEFAULT (-1) is census-driven DRIVER-SIDE (the
    // ngramJaccardPairsAuto convention): cell sizes are estimated from
    // a bounded content-hash sample and the split only enters the plan
    // when some cell is estimated past the measured crossover
    // [[SemDedupSplitFloor]] — below it the plan IS the pinned-off
    // plan, so small corpora pay one small sample job instead of a
    // full in-plan census (measured 1.19× overhead when that census
    // rode the broadcast build). Engaged, cells past the floor split
    // toward [[SemDedupSplitTarget]]-sized sub-cells with exact in-plan
    // counts. Graded callers (q99) pin 0 — their oracles restate the
    // unsplit enumeration bit-for-bit.
    val splitEngaged =
      if (maxCell == 0) false
      else if (maxCell > 0) true
      else {
        // ONE bounded probabilistic census job (no corpus count needed):
        // a fixed 1/64 content-hash thinning estimates cell sizes;
        // engage when any estimated cell crosses the floor. Estimation
        // noise fails benign either way (off = the exact pinned plan,
        // just unsplit; on = the split's bounded overhead), and the
        // floor sits a factor above the net-negative measurement so the
        // ±1/√samples error cannot pull a known-bad cell in.
        val SampleMod = 64L
        val row = assigned
          .filter(pmod(xxhash64(col("id")), lit(SampleMod)) === 0)
          .groupBy(col("cell")).agg(count(lit(1)).as("__cn"))
          .agg(max(col("__cn"))).collect().head
        val maxSampled = if (row.isNullAt(0)) 0L else row.getLong(0)
        maxSampled * SampleMod > SemDedupSplitFloor
      }
    val candCells =
      if (!splitEngaged) assigned.select(col("id"), col("cell"))
      else {
        val floor = if (maxCell > 0) maxCell else SemDedupSplitFloor
        val target = if (maxCell > 0) maxCell else SemDedupSplitTarget
        val hot = assigned.groupBy(col("cell"))
          .agg(count(lit(1)).as("__cn"))
          .filter(col("__cn") > floor)
        val bits = least(greatest(
          ceil(log2(col("__cn") / lit(target))).cast("int"), lit(1)), lit(8))
        assigned
          .join(broadcast(hot), Seq("cell"), "left")
          .withColumn("__sub",
            when(col("__cn").isNull, lit(0L)).otherwise(
              aggregate(slice(signature(col("e_d")), lit(1), bits),
                lit(0L), (a, x) => a * 2 + x)))
          .select(col("id"),
            concat_ws("_", col("cell"), col("__sub")).as("cell"))
      }
    val pairs = Dedup.candidatePairs(candCells, Seq("cell"))
      .join(withNorm.select(col("id").as("id_a"), col("e_d").as("e_a"),
        col("n").as("n_a")), "id_a")
      .join(withNorm.select(col("id").as("id_b"), col("e_d").as("e_b"),
        col("n").as("n_b")), "id_b")
      .filter(VectorFns.dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b"))
        >= threshold)
      .select(col("id_a"), col("id_b"))
    val comps = Dedup.connectedComponents(pairs)
    val clustered = assigned
      .join(comps, Seq("id"), "left")
      .select(col("id").as(idCol), col("cell"),
        coalesce(col("comp"), col("id")).as("cluster"), col("cent_sim"))
    // the election orders by the ROUNDED centroid cosine (rounded before
    // any order that depends on it — the registry-wide contract)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("cent_sim").asc, col(idCol))
    clustered.withColumn("keep",
      when(row_number().over(w) === 1, 1L).otherwise(0L))
  }

  /** Self-supervised prototypicality pruning (Sorscher et al. 2022,
    * "Beyond neural scaling laws: beating power law scaling via data
    * pruning"): an example's prototypicality is its cosine to its
    * k-means cell centroid, and in the abundant-data regime the paper's
    * best metric KEEPS the hard (least prototypical) examples. The keep
    * policy here retains the `keepFrac` least-prototypical rows of each
    * cell: `proto_rank` is the within-cell percent rank of the rounded
    * centroid cosine (ascending, ties to the smaller id — `(rank−1)/
    * (n−1)` is integer arithmetic in double, so the score is exact and
    * engine-portable), and `keep = proto_rank < keepFrac`. Singleton
    * cells rank 0.0 and are always kept. Emits
    * `(idCol, cell, cent_sim, proto_rank, keep)`.
    *
    * Scale shape: the quantizer is a MODEL (nCells × dim floats, inlined
    * in the plan — [[semDedup]]'s assignment, same deterministic
    * lowest-id seeding unless a [[kMeansCentroids]]-trained model is
    * passed), so cell assignment is one narrow in-row argmax pass with
    * no join; the only exchange is the ranking window's single shuffle
    * on the cell key. Like SemDeDup, `nCells` grows with the corpus so
    * per-cell row counts stay window-friendly.
    */
  def prototypicality(corpus: DataFrame, idCol: String, embCol: String,
                      keepFrac: Double, nCells: Int = 8,
                      centroids: Option[Seq[(Long, IndexedSeq[Float])]] = None)
      : DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"keepFrac must be in (0, 1], got $keepFrac")
    val cents = centroids.map(_.toArray).getOrElse(
      seedCentroids(corpus, idCol, embCol, nCells))
    val centArr = typedlit(cents.toIndexedSeq)
    val ranked = array_sort(transform(centArr, c =>
      struct(
        (lit(0.0) - VectorFns.cosine(col(embCol), c.getField("_2"))).as("neg_cos"),
        c.getField("_1").as("cent"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell"))
      .orderBy(col("cent_sim").asc, col(idCol))
    corpus
      .select(col(idCol), element_at(ranked, 1).as("top"))
      .select(col(idCol),
        col("top").getField("cent").as("cell"),
        round(lit(0.0) - col("top").getField("neg_cos"), 6).as("cent_sim"))
      .withColumn("proto_rank", percent_rank().over(w))
      .withColumn("keep",
        when(col("proto_rank") < keepFrac, 1L).otherwise(0L))
  }

  /** Mean-pool + L2-normalize grouped embeddings — the chunk→document
    * aggregation of a retrieval pipeline (embed bounded chunks, pool
    * into one document vector; normalizing makes downstream dot
    * products cosines). Emits `(groupCol, n_chunks, emb_unit)` with the
    * unit vector's elements rounded to 6 (grade-stable); an all-zero
    * group pools to the zero vector rather than NaNs.
    *
    * Determinism at any partitioning: the per-dimension mean folds
    * member values in `orderCol` order (the q64 sorted-struct contract
    * — member lists are chunks-per-doc long, bounded by construction),
    * the dimension assembly sorts by position, and the norm is the
    * in-row [[graft.functions.VectorFns.norm]] left fold — no
    * cross-row float accumulation anywhere. Shuffles: one
    * (group, dim) aggregate, one group aggregate.
    */
  def meanPool(df: DataFrame, groupCol: String, embCol: String,
               orderCol: String): DataFrame = {
    val e = df
      .select(col(groupCol), col(orderCol).as("__graft_ord"),
        posexplode(VectorFns.toDouble(col(embCol)))
          .as(Seq("__graft_pos", "__graft_v")))
    val dim = e.groupBy(col(groupCol), col("__graft_pos")).agg(
        count(lit(1)).as("__graft_nc"),
        sort_array(collect_list(struct(col("__graft_ord"), col("__graft_v"))))
          .as("__graft_vs"))
      .select(col(groupCol), col("__graft_pos"), col("__graft_nc"),
        (aggregate(transform(col("__graft_vs"), _.getField("__graft_v")),
          lit(0.0), _ + _) / col("__graft_nc")).as("__graft_m"))
    dim.groupBy(col(groupCol)).agg(
        max(col("__graft_nc")).as("n_chunks"),
        sort_array(collect_list(struct(col("__graft_pos"), col("__graft_m"))))
          .as("__graft_pm"))
      .select(col(groupCol), col("n_chunks"),
        transform(col("__graft_pm"), _.getField("__graft_m"))
          .as("__graft_em"))
      .withColumn("__graft_nr", VectorFns.norm(col("__graft_em")))
      .select(col(groupCol), col("n_chunks"),
        transform(col("__graft_em"), x =>
          when(col("__graft_nr") === 0.0, lit(0.0))
            .otherwise(round(x / col("__graft_nr"), 6))).as("emb_unit"))
  }

  /** Johnson–Lindenstrauss random projection (Achlioptas 2003's
    * database-friendly ±1 variant): project embeddings to `outDim`
    * dimensions through a deterministic sign matrix,
    * `y_j = Σ_i s_ij·x_i / √outDim` with
    * `s_ij = ±1` from the parity of the portable 60-bit hash of
    * `"salt:j:i"` — the cheap pre-clustering dimensionality reduction
    * (distances preserved within 1±ε for outDim = O(log n / ε²)), with
    * the matrix a pure FUNCTION, so any engine or later run regenerates
    * it bit-for-bit (no stored model artifact at all). Emits
    * `(idCol, proj: array<double>)`, elements quantized via the
    * grade-stable `floor(x·1e6 + 0.5)/1e6`.
    *
    * One narrow pass: the sign matrix is outDim × inDim literals inlined
    * in the plan, each output dimension one codegen'd
    * [[graft.expressions.VecDot]] — no shuffle, no join, no driver
    * collect (the matrix is GENERATED driver-side from the hash, not
    * collected from data).
    */
  def randomProject(corpus: DataFrame, idCol: String, embCol: String,
                    inDim: Int, outDim: Int,
                    salt: String = "rp"): DataFrame = {
    require(inDim > 0 && outDim > 0,
      s"need positive dims, got inDim=$inDim outDim=$outDim")
    val signs: IndexedSeq[IndexedSeq[Double]] =
      (0 until outDim).map(j => (0 until inDim).map(i =>
        if (graft.expressions.Md5Hash60.hash60(s"$salt:$j:$i") % 2 == 0) 1.0
        else -1.0))
    val sqrtK = math.sqrt(outDim.toDouble)
    def q6(c: Column): Column =
      floor(c * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)
    corpus.select(col(idCol),
      array((0 until outDim).map(j =>
        q6(graft.expressions.VecDot(col(embCol), typedlit(signs(j)))
          / lit(sqrtK))): _*).as("proj"))
  }

  /** The single-scan moment aggregate behind [[pcaTopComponent]],
    * exposed so plan guards can assert the shape directly: one corpus
    * scan, no join, one row out carrying
    * `[n, Σxᵢ…, Σxᵢxⱼ…] / array<double>`. Null-embedding rows are
    * filtered BEFORE the aggregate (and not counted in n); the float →
    * double widening happens in the cast so quantization sees the same
    * doubles the oracle's `::DOUBLE[]` does.
    */
  def pcaMomentsFrame(df: DataFrame, embCol: String, dim: Int): DataFrame =
    df.filter(col(embCol).isNotNull)
      .select(graft.expressions.EmbedMoments.moments(
        col(embCol).cast("array<double>"), dim).as("moments"))

  /** The moment collect + quantized power iteration shared by
    * [[pcaTopComponent]] and [[debiasTopComponent]]: returns the mean
    * vector, the covariance matrix and the (1e-12-requantized) top
    * component, computed with the exact op order the q133 oracle
    * replays — extracting it does not change a single float of the
    * graded sequence.
    */
  private[graft] def pcaModel(df: DataFrame, embCol: String, dim: Int, iters: Int)
      : (Array[Double], Array[Array[Double]], Array[Double]) = {
    val a = pcaMomentsFrame(df, embCol, dim).head().getSeq[Double](0)
    val n = a(0)
    require(n > 0, "empty corpus")
    val m = Array.tabulate(dim)(i => a(1 + i) / 1e12 / n)
    val c = Array.ofDim[Double](dim, dim)
    var ii = 0
    while (ii < dim) {
      var jj = ii
      while (jj < dim) {
        val s = a(1 + dim + graft.expressions.EmbedMoments.triIndex(dim, ii, jj))
        val cij = s / 1e12 / n - m(ii) * m(jj)
        c(ii)(jj) = cij
        c(jj)(ii) = cij
        jj += 1
      }
      ii += 1
    }
    def matVec(x: Array[Double]): Array[Double] =
      Array.tabulate(dim) { i =>
        var s = 0.0; var j = 0
        while (j < dim) { s += c(i)(j) * x(j); j += 1 }
        s
      }
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    for (_ <- 1 to iters) {
      val w = matVec(v)
      var n2 = 0.0
      var i = 0
      while (i < dim) { n2 += w(i) * w(i); i += 1 }
      val nrm = math.sqrt(n2)
      v = w.map(wi => math.floor(wi / nrm * 1e12 + 0.5) / 1e12)
    }
    (m, c, v)
  }

  /** "All-but-the-top" embedding post-processing (Mu & Viswanath 2018,
    * ICLR, "All-but-the-Top: Simple and Effective Postprocessing for
    * Word Representations"): subtract the corpus mean and project out
    * the top principal component — the cheap fix for the anisotropy
    * [[pcaTopComponent]] (q133) diagnoses, applied before cosine-based
    * dedup/clustering/ANN so similarity stops being dominated by the
    * shared "rogue" direction. `debiased = (x − μ) − ⟨x − μ, u⟩·u` with
    * μ/u from [[pcaModel]]'s exact graded sequence; elements quantized
    * via the grade-stable `floor(x·1e6 + 0.5)/1e6`. Null-embedding rows
    * are excluded on both sides of the grading contract. Emits
    * `(idCol, debiased: array<double>)`.
    *
    * Scale shape: the model is one single-scan moment aggregate plus a
    * driver-side iteration (1 + d + d²/2 scalars collected once — the
    * IVF-centroid convention); the debias itself is a pure NARROW
    * projection (one codegen'd [[graft.expressions.VecDot]] + d fused
    * element ops per row) — no shuffle, no join, no per-row model
    * recompute, so it pipelines into whatever consumes it.
    */
  def debiasTopComponent(df: DataFrame, idCol: String, embCol: String,
                         dim: Int, iters: Int = 10): DataFrame = {
    require(dim > 0 && iters >= 1, s"bad dim=$dim iters=$iters")
    val (m, _, v) = pcaModel(df, embCol, dim, iters)
    debiasWith(df, idCol, embCol, dim, m, v)
  }

  /** Apply a FROZEN debias model `(mean, component)` — the deployment
    * split of [[debiasTopComponent]]: train the model offline on a
    * corpus snapshot ([[pcaModel]]), apply it online to any frame with
    * the same embedding contract, including a STREAM (the projection is
    * stateless and narrow, so it runs unchanged per micro-batch —
    * StreamingSpec pins stream-batch equality). Same output contract and
    * quantization as [[debiasTopComponent]].
    */
  def debiasWith(df: DataFrame, idCol: String, embCol: String, dim: Int,
                 mean: Array[Double], component: Array[Double]): DataFrame = {
    require(mean.length == dim && component.length == dim,
      s"model dims (${mean.length}, ${component.length}) != $dim")
    var mv = 0.0
    var i0 = 0
    while (i0 < dim) { mv += mean(i0) * component(i0); i0 += 1 }
    def q6c(c: Column): Column =
      floor(c * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)
    // the projection is ONE transform over the dimension range with the
    // model as literal ARRAYS — not dim unrolled element columns, whose
    // ~8·dim-node tree costs ~1 s of per-execution driver planning
    // regardless of data size (the q138 lesson, see BASELINE.md); the
    // interpreted lambda touches only attributes and literals, and the
    // expensive dot product stays in the codegen'd VecDot kernel
    val mLit = typedlit(mean.toIndexedSeq)
    val vLit = typedlit(component.toIndexedSeq)
    df.filter(col(embCol).isNotNull)
      .select(col(idCol), col(embCol).cast("array<double>").as("__graft_x"))
      .withColumn("__graft_dot",
        graft.expressions.VecDot(col("__graft_x"), vLit) - lit(mv))
      .select(col(idCol),
        transform(sequence(lit(0), lit(dim - 1)), i =>
          q6c(element_at(col("__graft_x"), i + 1) - element_at(mLit, i + 1)
            - col("__graft_dot") * element_at(vLit, i + 1))).as("debiased"))
  }

  /** k-occurrence hubness census (Radovanović et al. 2010, JMLR, "Hubs
    * in Space: Popular Nearest Neighbours in High-Dimensional Data"):
    * for a batch of query vectors, count how often each corpus vector
    * lands in a query's EXACT top-k (self-matches excluded) — N_k(x).
    * High-dimensional similarity concentrates: a few "hub" vectors with
    * N_k far above the k·|Q|/n expectation dominate neighbor lists,
    * skewing kNN labeling ([[knnPredict]], q112), contrastive mining
    * (q110) and ANN-graph quality — the census is the pre-indexing
    * health check next to q133's anisotropy read (hub mass rises with
    * the same dominant component [[debiasTopComponent]] removes).
    * Emits `(idCol, n_hits, hub_rank)` for vectors with ≥1 hit,
    * hub_rank by (n_hits DESC, id).
    *
    * Scale shape: [[topKBatch]]'s broadcast-query single corpus scan
    * with the rank-limited window (WindowGroupLimit k-heap), then one
    * count aggregate over the |Q|×k hit rows and a rank window over at
    * most |Q|×k distinct vectors — never corpus-sized window state.
    */
  def hubness(corpus: DataFrame, idCol: String, embCol: String,
              queries: DataFrame, qidCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val q = queries.filter(col(embCol).isNotNull)
      .select(col(qidCol).as("query_id"), col(embCol).as("q_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    corpus.filter(col(embCol).isNotNull)
      .crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        round(VectorFns.cosine(col(embCol), col("q_emb")), 6).as("cos_sim"))
      .withColumn("__graft_rk", row_number().over(w))
      .filter(col("__graft_rk") <= k)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
      .withColumn("hub_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n_hits").desc, col(idCol))).cast("long"))
  }

  /** Top principal component of the embedding cloud (power iteration
    * over the covariance; Golub & Van Loan §8.2) — the whitening /
    * anisotropy read of an embedding corpus: a dominant component with
    * high explained variance is the "rogue dimension" that makes raw
    * cosine similarity degenerate, and projecting it out (or
    * mean-centering + whitening) is standard preprocessing before
    * SemDeDup-style clustering or ANN indexing. Emits one row per
    * dimension `(pos, loading, eigenvalue, var_explained)` (eigenvalue
    * and the λ/trace variance share are constant across rows — the q50
    * exploded-scalar grading convention).
    *
    * Distribution: the heavy work is ONE corpus scan — a single
    * [[graft.expressions.EmbedMoments]] aggregate accumulates the row
    * count, the d per-dimension sums, and the d(d+1)/2 upper-triangle
    * raw second moments in-buffer as exact 1e-12-quantized SIGNED-128
    * integer sums (map-side combine; no d² row fanout, no crossJoin, no
    * 64-bit overflow ceiling — a bare long sum would silently wrap past
    * ~9.2e6 unit-scale rows). The d×d covariance `C = S/n − m·mᵀ` is
    * then a MODEL (d² doubles from one ~(1+d+d²/2)-element collected
    * row — the IVF-centroid collect convention), and the `iters` fixed
    * power-iteration rounds run driver-side with every fold in index
    * order and the iterate re-quantized to 1e-12 each round, so any
    * engine replays the exact same float sequence. Deterministic init
    * `v₀ = 1/√d` (exact for power-of-two d). Null-embedding rows are
    * excluded on BOTH sides of the grading contract (the oracle filters
    * `embedding IS NOT NULL`), so n agrees by construction.
    */
  def pcaTopComponent(df: DataFrame, embCol: String, dim: Int,
                      iters: Int = 10): DataFrame = {
    require(dim > 0 && iters >= 1, s"bad dim=$dim iters=$iters")
    val spark = df.sparkSession
    val (_, c, v) = pcaModel(df, embCol, dim, iters)
    def matVec(x: Array[Double]): Array[Double] =
      Array.tabulate(dim) { i =>
        var s = 0.0; var j = 0
        while (j < dim) { s += c(i)(j) * x(j); j += 1 }
        s
      }
    val w = matVec(v)
    var lam = 0.0
    var tr = 0.0
    var i = 0
    while (i < dim) { lam += v(i) * w(i); tr += c(i)(i); i += 1 }
    def q6d(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    import spark.implicits._
    (0 until dim)
      .map(p => (p.toLong, q6d(v(p)), q6d(lam), q6d(lam / tr)))
      .toDF("pos", "loading", "eigenvalue", "var_explained")
  }

  /** Contrastive (anchor → positive, hard-negative) pair mining — the
    * triplet/InfoNCE data-prep step of embedding-model training: for
    * every anchor, the most-similar SAME-label corpus vector (the
    * positive) and the most-similar OTHER-label vector (the hard
    * negative — the pair that actually moves a metric-learning loss),
    * plus the margin between them (negative margin = the anchor's
    * nearest neighbor crosses the class boundary, the rows worth
    * auditing for label noise).
    *
    * Scale shape: identical to [[topKBatch]] — anchors broadcast (a
    * mining pass is batched, never corpus-scale at once), corpus
    * scanned once with an |A|-way in-row [[graft.expressions.VecDot]]
    * fanout, and each (anchor, same/other) side keeps its best row via
    * a rank-limited window (WindowGroupLimit k-heap, k=1). The final
    * per-anchor pivot rides the same shuffle as the window. Anchors
    * whose label has no other member emit a null positive.
    */
  def contrastivePairs(corpus: DataFrame, idCol: String, embCol: String,
                       labelCol: String, anchors: DataFrame): DataFrame = {
    val a = anchors.select(col(idCol).as("anchor_id"),
      col(embCol).as("__a_emb"), col(labelCol).as("__a_label"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id"), col("same"))
      .orderBy(col("cos_sim").desc, col(idCol))
    corpus.crossJoin(broadcast(a))
      .filter(col(idCol) =!= col("anchor_id"))
      .select(col("anchor_id"), col(idCol),
        (col(labelCol) === col("__a_label")).as("same"),
        round(VectorFns.cosine(col(embCol), col("__a_emb")), 6).as("cos_sim"))
      .withColumn("__graft_rk", row_number().over(w))
      .filter(col("__graft_rk") === 1)
      .groupBy(col("anchor_id")).agg(
        max(when(col("same"), col(idCol))).as("pos_id"),
        max(when(col("same"), col("cos_sim"))).as("pos_sim"),
        max(when(!col("same"), col(idCol))).as("neg_id"),
        max(when(!col("same"), col("cos_sim"))).as("neg_sim"))
      .withColumn("margin",
        floor((col("pos_sim") - col("neg_sim")) * lit(1e6) + lit(0.5))
          .cast("double") / lit(1e6))
  }

  /** k-NN weak labeling / label-quality audit: each query vector gets
    * the majority label of its k nearest corpus neighbors (self
    * excluded by id), with the vote fraction as confidence and a
    * correctness flag against the stored label — the cheap automatic
    * labeler for unlabeled ingest AND the disagreement signal that
    * surfaces mislabeled rows (a vector whose neighbors outvote its own
    * label is an audit candidate).
    *
    * Vote semantics: neighbors rank by (cos DESC, id); the predicted
    * label is the highest vote count, ties broken by the SMALLER label
    * id — fully deterministic. Scale shape is [[topKBatch]]: query batch
    * broadcast, one corpus scan, WindowGroupLimit k-heap per query, then
    * a per-(query, label) count whose shuffle key extends the window's.
    */
  def knnPredict(corpus: DataFrame, idCol: String, embCol: String,
                 labelCol: String, queries: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val q = queries.select(col(idCol).as("query_id"),
      col(embCol).as("__q_emb"), col(labelCol).as("true_label"))
    val wNn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    val wVote = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("pred_label"))
    corpus.crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col("true_label").cast("long").as("true_label"),
        col(labelCol).cast("long").as("pred_label"),
        round(VectorFns.cosine(col(embCol), col("__q_emb")), 6).as("cos_sim"),
        col(idCol))
      .withColumn("__graft_rk", row_number().over(wNn))
      .filter(col("__graft_rk") <= k)
      .groupBy(col("query_id"), col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("__graft_vr", row_number().over(wVote))
      .filter(col("__graft_vr") === 1)
      .select(col("query_id"), col("true_label"), col("pred_label"),
        col("votes"),
        (col("votes").cast("double") / lit(k)).as("conf"),
        (col("pred_label") === col("true_label")).as("correct"))
  }

  /** MMR diversity re-rank of each query's retrieval candidates —
    * "most relevant, least redundant" greedy top-k (Carbonell &
    * Goldstein 1998), the diversity-aware selection step between
    * retrieval and consumption (RAG context assembly, eval-set
    * construction). Candidates come from [[topKBatch]] (swap in an ANN
    * variant at corpus scale), then each query's bounded candidate list
    * is re-ranked by ONE call of the sequential greedy kernel
    * ([[graft.expressions.MmrRerank]]) — the recurrence is inherently
    * serial in k, so the right distribution unit is the query, not the
    * step.
    *
    * Scale shape: retrieval cost is [[topKBatch]]'s; the re-rank adds
    * one broadcast-hash join to fetch candidate vectors (candidate
    * frame is |Q|·n rows — always the small side), one shuffle to group
    * them per query, and O(k·n) in-row cosines per query. No driver
    * loop, no per-step shuffle.
    */
  def mmrRerank(corpus: DataFrame, idCol: String, embCol: String,
                queries: DataFrame, qidCol: String,
                nCandidates: Int, k: Int, lambda: Double): DataFrame = {
    val cands = topKBatch(corpus, idCol, embCol, queries, qidCol,
        nCandidates)
      .withColumnRenamed("cos_sim", "rel")
    corpus.select(col(idCol), col(embCol).as("__emb"))
      .join(broadcast(cands), Seq(idCol))
      .groupBy(col("query_id"))
      .agg(collect_list(struct(col(idCol), col("rel"), col("__emb")))
        .as("__cands"))
      .select(col("query_id"),
        explode(graft.expressions.MmrRerank(col("__cands"), lambda, k))
          .as("__m"))
      .select(col("query_id"), col("__m.vec_id").as(idCol),
        col("__m.rank").as("rank"), col("__m.mmr").as("mmr"))
  }

  /** Brute-force cosine top-k for a BATCH of query vectors — the
    * ground-truth side of an ANN recall evaluation (and the exact
    * retrieval path when the query set is small enough to broadcast):
    * every (query, corpus) cosine is computed and each query keeps its
    * `k` best by (cos DESC, id). Emits (qidCol, idCol, cos_sim).
    *
    * Scale shape: queries broadcast (an eval sample is thousands of
    * rows, never corpus-scale), corpus scanned ONCE with a |Q|-way
    * in-row fanout, and the per-query top-k is a rank-limited window —
    * Spark plans the `row_number <= k` filter as WindowGroupLimit, so
    * each task keeps a k-heap per query instead of sorting the fanout.
    * Cost is the unavoidable |corpus| × |Q| kernel (one codegen'd
    * [[graft.expressions.VecDot]] each); for corpus-scale query sets
    * use [[lshNearDupPairs]] instead.
    */
  def topKBatch(corpus: DataFrame, idCol: String, embCol: String,
                queries: DataFrame, qidCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val q = queries.select(col(qidCol).as("query_id"), col(embCol).as("q_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    corpus.crossJoin(broadcast(q))
      .select(col("query_id"), col(idCol),
        round(VectorFns.cosine(col(embCol), col("q_emb")), 6).as("cos_sim"))
      .withColumn("__graft_rk", row_number().over(w))
      .filter(col("__graft_rk") <= k)
      .drop("__graft_rk")
  }

  /** LSH-bucketed ANN top-k for a BATCH of query vectors — [[lshTopK]]
    * generalized to a query frame, emitting (qidCol, idCol, cos_sim):
    * corpus vectors sharing at least one signature band with a query are
    * exactly re-ranked for that query. The corpus is banded ONCE
    * (narrow signature pass + band fanout), the query bands broadcast,
    * and the per-query top-k is the same rank-limited window as
    * [[topKBatch]] — so corpus cost is independent of |Q| up to the
    * band-collision joins, which is the point of the index.
    */
  def lshTopKBatch(corpus: DataFrame, idCol: String, embCol: String,
                   queries: DataFrame, qidCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val corpusBands = bandedCols(corpus, idCol, embCol)
    val queryBands = bandedCols(queries, qidCol, embCol)
      .select(col(qidCol).as("query_id"), col("band").as("q_band"),
        col(embCol).as("q_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    corpusBands
      .join(broadcast(queryBands), col("band") === col("q_band"))
      .select(col("query_id"), col(idCol),
        round(VectorFns.cosine(col(embCol), col("q_emb")), 6).as("cos_sim"))
      .groupBy(col("query_id"), col(idCol)).agg(max(col("cos_sim")).as("cos_sim"))
      .withColumn("__graft_rk", row_number().over(w))
      .filter(col("__graft_rk") <= k)
      .drop("__graft_rk")
  }

  /** Multi-probe LSH ANN top-k (Lv et al. 2007, "Multi-Probe LSH:
    * Efficient Indexing for High-Dimensional Similarity Search"): the
    * recall/cost knob on [[lshTopKBatch]] — each QUERY probes its own
    * signature band plus every one-bit perturbation of it (rows+1
    * probes per band), pulling in corpus vectors whose signature
    * differs by a single bit in some band. Near neighbors missed by
    * exact banding almost always sit one flipped hyperplane away, so
    * candidate recall rises steeply while the CORPUS side is untouched:
    * the corpus is banded exactly ONCE, identically to the single-probe
    * index (same band strings, so one shared physical index serves both
    * probe policies at cluster scale), and only the broadcast query
    * fanout grows ×(rows+1). Same exact re-rank contract as
    * [[lshTopKBatch]]: emits (query_id, idCol, cos_sim), per-query top
    * k by (cos DESC, id).
    *
    * The probe strings are generated by ONE higher-order transform over
    * a literal (band, perturbation) spec array — NOT Bands×(rows+1)
    * unrolled concat columns: the unrolled form is a ~1300-node
    * expression tree whose per-execution Catalyst optimization costs
    * seconds of DRIVER time regardless of data size (measured: 2.6 s
    * for 8 query rows at sf0.01). The HOF lambda runs interpreted, but
    * only on the |Q|×(rows+1)×Bands query fanout — never the corpus —
    * and it references the `sig` ATTRIBUTE (computed once per row in
    * the projection below the Generate), so nothing heavy re-evaluates
    * per element.
    */
  def lshMultiProbeTopKBatch(corpus: DataFrame, idCol: String,
                             embCol: String, queries: DataFrame,
                             qidCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val rows = Bits / Bands
    val corpusBands = bandedCols(corpus, idCol, embCol)
    // probe spec: p = 0 keeps the band, p >= 1 flips bit p-1
    val spec = typedlit(for {
      b <- 0 until Bands; p <- 0 to rows
    } yield (b, p))
    val probes = transform(spec, s => {
      val b = s.getField("_1")
      val p = s.getField("_2")
      concat_ws("_", b.cast("string"),
        array_join(transform(sequence(lit(0), lit(rows - 1)), r => {
          val bit = element_at(col("sig"), (b * rows + r + 1).cast("int"))
          when(r === p - 1, lit(1) - bit).otherwise(bit).cast("string")
        }), "_"))
    })
    val queryBands = queries
      .withColumn("e_d", VectorFns.toDouble(col(embCol)))
      .withColumn("sig", signature(col("e_d")))
      .select(col(qidCol).as("query_id"), col(embCol).as("q_emb"),
        explode(probes).as("q_band"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol))
    corpusBands
      .join(broadcast(queryBands), col("band") === col("q_band"))
      .select(col("query_id"), col(idCol),
        round(VectorFns.cosine(col(embCol), col("q_emb")), 6).as("cos_sim"))
      .groupBy(col("query_id"), col(idCol)).agg(max(col("cos_sim")).as("cos_sim"))
      .withColumn("__graft_rk", row_number().over(w))
      .filter(col("__graft_rk") <= k)
      .drop("__graft_rk")
  }

  /** Per-band fanout of a vector frame: (idCol, embCol, band) with one
    * row per signature band — shared by [[lshTopK]] and
    * [[lshTopKBatch]]. Band format matches the banded index everywhere
    * in this module: `bandIndex_bit…bit`.
    */
  private def bandedCols(df: DataFrame, idCol: String,
                         embCol: String): DataFrame = {
    val rows = Bits / Bands
    df.withColumn("e_d", VectorFns.toDouble(col(embCol)))
      .withColumn("sig", signature(col("e_d")))
      .select(col(idCol), col(embCol), posexplode(
        transform(sequence(lit(0), lit(Bands - 1)), b =>
          concat_ws("_", Seq(b) ++ (0 until rows).map(r =>
            element_at(col("sig"), b * rows + r + 1)): _*))))
      .withColumnRenamed("col", "band")
      .drop("pos")
  }

  /** Recall@k of an approximate retrieval against exact ground truth:
    * for each query, `|approx ∩ exact| / |exact|` over the (query,
    * neighbor) id pairs — THE quality metric of an ANN index
    * (recall-vs-cost is the curve every index tunes along). Both inputs
    * are top-k frames keyed by (qidCol, idCol), e.g. [[topKBatch]]
    * (truth) vs [[lshTopKBatch]] (index under test). Queries with no
    * approx rows score 0. One semi-join + two per-query count
    * aggregates — the frames are |Q| × k rows, tiny by construction.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame,
                qidCol: String, idCol: String): DataFrame = {
    val truth = exact.groupBy(col(qidCol)).agg(count(lit(1)).as("n_exact"))
    val hits = approx.join(exact, Seq(qidCol, idCol), "left_semi")
      .groupBy(col(qidCol)).agg(count(lit(1)).as("n_hit"))
    truth.join(hits, Seq(qidCol), "left")
      .select(col(qidCol), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)) / col("n_exact"), 6)
          .as("recall"))
  }

  /** LSH-bucketed ANN top-k: candidates share at least one 8-bit signature
    * band with the query, then exact cosine re-rank.
    */
  def lshTopK(corpus: DataFrame, idCol: String, embCol: String,
              query: DataFrame, k: Int): DataFrame = {
    val corpusBands = bandedCols(corpus, idCol, embCol)
    val queryBands = bandedCols(query, idCol, embCol)
      .select(col("band").as("q_band"), col(embCol).as("q_emb"))
    corpusBands
      .join(broadcast(queryBands), col("band") === col("q_band"))
      .select(col(idCol),
        round(VectorFns.cosine(col(embCol), col("q_emb")), 6).as("cos_sim"))
      .groupBy(col(idCol)).agg(max(col("cos_sim")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }
}
