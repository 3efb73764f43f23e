package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** REUSABLE sign-flip recall harness (VERDICT r19 #8): the only probe
  * construction that can grade BORDERLINE banding recall on this
  * testdata (the round-19 `sem100b` measurement, recorded in
  * PROBES_r19.json), kept as a main so future banding/width changes
  * re-measure recall instead of re-deriving the probe.
  *
  * Why sign flips: the testdata embeddings are ~roll-invariant
  * (cos(v, roll(v, c)) ≥ 0.95 measured — PROBES_r19), so dimension-
  * rolled replicas hand every probe an unmissable self-match and
  * decision recall saturates at 1.0 under ANY configuration. Sign-flip
  * replicas multiply each dimension of copies 1..k−1 by a copy-seeded
  * ±1: WITHIN-copy dot products are preserved exactly (both factors
  * flip together), while CROSS-copy cosines decorrelate to noise — so
  * each synthetic borderline probe has match multiplicity ~1 and the
  * margin buckets below θ+0.05 populate where the banding curve
  * actually gambles.
  *
  * The batch is synthetic: one controlled-angle probe per target doc —
  * a unit vector planted at cosine `a` from the target (angles straddle
  * each θ leg's margin buckets; sub-θ angles are the false-flag
  * control). Ground truth stays brute-force max-cosine, so construction
  * error only moves docs between margin buckets, never corrupts the
  * recall denominator.
  */
object SignFlipRecall {

  /** Sign-flip ×k replica corpus `(vec_id, embedding)` — copy 0 is the
    * pristine original (the replicate convention: fixed batches built
    * from the original corpus keep their real match workload at every
    * scale). Caller owns the returned frame's lifecycle (it is
    * localCheckpoint'ed and counted).
    */
  def corpus(spark: SparkSession, sfDir: String, k: Int,
             embDim: Int = 64): DataFrame = {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(col("embedding").isNotNull).select("vec_id", "embedding")
    val out = emb
      .select(col("*"), explode(sequence(lit(0), lit(k - 1))).as("copy"))
      .select((col("vec_id") * k + col("copy")).as("vec_id"),
        transform(sequence(lit(0), lit(embDim - 1)), i =>
          element_at(col("embedding"), (i + 1).cast("int")) *
            when(col("copy") === 0, lit(1.0))
              .otherwise(when(pmod(xxhash64(col("copy"), i), lit(2)) === 0,
                lit(1.0)).otherwise(lit(-1.0))))
          .as("embedding"))
      .localCheckpoint()
    out.count()
    out
  }

  /** Synthetic borderline batch: `nProbes` unit vectors, probe `j`
    * planted at cosine `angles(j % angles.length)` from target doc `j`
    * (targets are the lowest-id originals). Deterministic under `seed`.
    */
  def borderlineBatch(spark: SparkSession, sfDir: String,
                      nProbes: Int = 480,
                      angles: Array[Double] =
                        Array(0.42, 0.47, 0.58, 0.35, 0.82, 0.87, 0.95,
                          0.72),
                      seed: Long = 42L, embDim: Int = 64): DataFrame = {
    import spark.implicits._
    val targets = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(col("embedding").isNotNull).select("vec_id", "embedding")
      .orderBy("vec_id").limit(nProbes)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    val rnd = new scala.util.Random(seed)
    val rows = targets.zipWithIndex.map { case ((_, t), j) =>
      val tn = math.sqrt(t.map(x => x * x).sum)
      val th = t.map(_ / tn)
      val r = Array.fill(embDim)(rnd.nextDouble() * 2 - 1)
      val proj = th.zip(r).map(p => p._1 * p._2).sum
      val w0 = r.zip(th).map(p => p._1 - proj * p._2)
      val wn = math.sqrt(w0.map(x => x * x).sum)
      val w = w0.map(_ / wn)
      val a = angles(j % angles.length)
      val s = math.sqrt(1 - a * a)
      (1000000000L + j.toLong,
        th.zip(w).map(p => a * p._1 + s * p._2).toSeq)
    }.toSeq
    val out = rows.toDF("vec_id", "embedding").localCheckpoint()
    out.count()
    out
  }

  /** Brute-force ground truth: every batch vector's TRUE max cosine
    * against corpus ∪ smaller-id batch — the margin above θ is what
    * banding gambles on. Bounded driver collect (one double per batch
    * vector).
    */
  def maxCosines(corpusEmb: DataFrame, batch: DataFrame): Map[Long, Double] = {
    import batch.sparkSession.implicits._
    def widen(df: DataFrame, id: String, e: String, n: String) =
      df.select(col("vec_id").as(id),
        graft.functions.VectorFns.toDouble(col("embedding")).as(e),
        graft.functions.VectorFns.norm(
          graft.functions.VectorFns.toDouble(col("embedding"))).as(n))
    val bW = widen(batch, "id_i", "e_i", "n_i").localCheckpoint()
    val cW = widen(corpusEmb, "id_c", "e_c", "n_c")
    val maxCross = broadcast(bW).join(cW)
      .groupBy("id_i")
      .agg(max(graft.functions.VectorFns.dot(col("e_i"), col("e_c")) /
        (col("n_i") * col("n_c"))).as("mc"))
    val maxBatch = bW.select(col("id_i").as("id_a"), col("e_i").as("e_a"),
        col("n_i").as("n_a"))
      .crossJoin(bW.select(col("id_i").as("id_b"), col("e_i").as("e_b"),
        col("n_i").as("n_b")))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_b").as("id_i"))
      .agg(max(graft.functions.VectorFns.dot(col("e_a"), col("e_b")) /
        (col("n_a") * col("n_b"))).as("mb"))
    val out = bW.select("id_i")
      .join(maxCross, Seq("id_i"), "left")
      .join(maxBatch, Seq("id_i"), "left")
      .select(col("id_i"),
        greatest(coalesce(col("mc"), lit(-1.0)),
          coalesce(col("mb"), lit(-1.0))).as("mx"))
      .as[(Long, Double)].collect().toMap
    bW.unpersist()
    out
  }

  /** One graded probe configuration: wall seconds (min of `iters` noop
    * materializations), flagged decision ids, and recall per margin
    * bucket against the brute-force truth. `falseFlags` must be 0 — the
    * delta family exact-verifies every candidate, so a flag below θ is
    * a harness (or operator) bug, never banding luck.
    */
  final case class GradedConfig(rowsPerBand: Int, flips: Int, sec: Double,
                                flagged: Int, exactFlagged: Int,
                                falseFlags: Int, borderlineN: Int,
                                borderlineRecall: Option[Double],
                                overallRecall: Option[Double])

  def gradeConfig(idx: DataFrame, batch: DataFrame, theta: Double,
                  rowsPerBand: Int, flips: Int,
                  maxCos: Map[Long, Double], iters: Int): GradedConfig = {
    import batch.sparkSession.implicits._
    def run() = graft.operators.Similarity.deltaSemNearDup(
      idx, batch, "vec_id", "embedding", theta, rowsPerBand, flips)
    // exactly `iters` executions total: iters−1 noop-materialized
    // timings plus one timed COLLECT run (the flag read — ≤ batch ids,
    // negligible overhead vs the probe itself). A separate collect
    // execution would double the pathological legs' shuffle footprint —
    // the θ=0.4 governed shape writes ~30 GB of scratch per execution,
    // and two of them blew the disk on the first cut of this harness.
    val noopSecs = (1 until iters).map { _ =>
      System.gc()
      val t0 = System.nanoTime()
      run().write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    System.gc()
    val t0 = System.nanoTime()
    val flagged = run().filter(col("status") =!= "new").select("vec_id")
      .as[Long].collect().toSet
    val sec = (noopSecs :+ (System.nanoTime() - t0) / 1e9).min
    val exact = maxCos.filter(_._2 >= theta).keySet
    val borderline = maxCos.filter { case (_, mx) =>
      mx >= theta && mx < theta + 0.05 }.keySet
    def recall(universe: Set[Long]): Option[Double] =
      if (universe.isEmpty) None
      else Some(universe.count(flagged).toDouble / universe.size)
    GradedConfig(rowsPerBand, flips, sec, flagged.size, exact.size,
      flagged.count(d => maxCos(d) < theta), borderline.size,
      recall(borderline), recall(exact))
  }
}
