package graft
import graft.Harness.materialize
/** Benchmark main: times every registry query at SPARK_GRAFT_SF_DIR and
  * prints the JSON contract the driver parses — once in full precision
  * (also written to `bench_queries.json`), then once compacted as the
  * FINAL line so the driver's 2000-char stdout tail captures a complete
  * parseable map.
  *
  * Timing honesty: results are materialized through the `noop` sink, not
  * `count()` — counting lets Catalyst eliminate ORDER BY and prune every
  * column, so sort- and projection-heavy queries would time as cheaper
  * plans than the ones users run. Queries run in registry order after an
  * untimed warmup action so JIT/codegen/parquet-reader startup isn't
  * attributed to whichever query happens to run first.
  *
  * Timing stability: each query is timed SPARK_GRAFT_BENCH_ITERS times
  * (default 3) and the MIN is reported — single-sample timings swung the
  * heaviest query 12→26 s across identical-code runs (GC / AQE / page
  * cache), confounding every round-over-round comparison; the min is the
  * standard steady-state estimator for that noise profile.
  * SPARK_GRAFT_BENCH_ONLY=q21_...,q22_... restricts the run for local
  * iteration.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val spark = Harness.session(Harness.envCpus(4))
    // Untimed warmup at the smallest SF: generated code depends on plan
    // shape, not data size, so this compiles each query's codegen/JIT
    // once (worth ~9 s on the heaviest expression trees) without paying
    // full-size execution twice. Residual cold cost: AQE join-shape
    // differences between SFs.
    val warmDir = "/root/testdata/sf0.001"
    val selected = SparkEntry.registry.filter(q => only.forall(_.contains(q.name)))
    selected.foreach { q =>
      try materialize(q.spark(spark, warmDir)) catch { case _: Throwable => () }
    }
    // Only SUCCESSFUL iterations may enter the min — an exception path
    // returns in milliseconds and would masquerade as an 8-10× speedup in
    // round-over-round comparison. A query whose every iteration threw is
    // OMITTED from the JSON entirely (stderr carries the reason) and
    // recorded by name in the artifact's `broken` array, so the artifact
    // never contains a wall-time for a query that didn't execute but a
    // round-over-round diff still sees WHAT didn't execute.
    val broken = scala.collection.mutable.ArrayBuffer.empty[String]
    // The auto/store family times through REAL store writes + bucketed
    // reads, and its recorded round-over-round band was the widest in
    // the suite (VERDICT r19 #5: q160 5.5→7.5 s and q176 2.0→2.7 s
    // sweep drift on untouched code, while the builder's own min-of-5
    // re-checks sat inside ±20%) — so these queries run min-of-5 like
    // the curation job instead of the default min-of-3: write-path
    // noise (page-cache state, dirty-page writeback, temp-dir
    // population) needs more samples to find the floor.
    val noisyFamily = Set("q160", "q176", "q183", "q184", "q185", "q186",
      "q187", "q188", "q189", "q190", "q191", "q192", "q193")
    val results = selected.flatMap { q =>
      val qIters =
        if (noisyFamily(q.name.takeWhile(_ != '_'))) math.max(iters, 5)
        else iters
      val times = (1 to qIters).flatMap { _ =>
        // pin GC state at iteration boundaries: heap pressure accumulated
        // by earlier queries otherwise lands as pauses inside whichever
        // query runs next, and a pause spanning all iterations defeats
        // even min-of-N (observed: a 0.6 s query timing at 3.8 s)
        System.gc()
        val t0 = System.nanoTime()
        val ok =
          try { materialize(q.spark(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] ${q.name} FAILED: ${e.getMessage}")
            false
          }
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }
      if (times.isEmpty) {
        System.err.println(s"[bench] ${q.name} omitted — all $qIters iterations threw")
        broken += q.name
        None
      } else Some(q.name -> times.min)
    }
    // The composed end-to-end CurationJob, timed through its REAL table
    // writes (the five output parquet tables are the job's contract —
    // timing a noop would skip the write path users pay for). Same
    // min-of-iters discipline as the queries; each run writes to a fresh
    // temp dir that is deleted afterwards.
    val jobbed = if (only.forall(_.contains("curation_job"))) {
      // only SUCCESSFUL runs enter the min — a crashed run's (short)
      // elapsed time must not masquerade as a performance improvement.
      // min-of-5 (vs the queries' min-of-3) and a pinnable temp base:
      // this is the one entry timed through REAL table writes, and its
      // recorded band was the widest in the suite (7.0-9.5 s) — write-
      // path noise (page-cache state, dirty-page writeback) needs more
      // samples to find the floor, and SPARK_GRAFT_BENCH_TMP lets a
      // deployment pin the writes to a known filesystem instead of
      // whatever java.io.tmpdir happens to be.
      val jobIters = math.max(iters, 5)
      val tmpBase = sys.env.get("SPARK_GRAFT_BENCH_TMP")
        .map(java.nio.file.Paths.get(_))
      tmpBase.foreach(java.nio.file.Files.createDirectories(_))
      val jobTimes = (1 to jobIters).flatMap { _ =>
        System.gc()
        val out = tmpBase match {
          case Some(b) => java.nio.file.Files.createTempDirectory(b, "graft_bench_job")
          case None => java.nio.file.Files.createTempDirectory("graft_bench_job")
        }
        val t0 = System.nanoTime()
        val ok =
          try { graft.pipelines.CurationJob.run(spark, sfDir, out.toString); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] curation_job failed: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        Harness.deleteTree(out)
        if (ok) Some(dt) else None
      }
      if (jobTimes.nonEmpty) results :+ ("curation_job" -> jobTimes.min)
      else results // all runs failed — already reported on stderr
    } else results
    val qs = jobbed.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = jobbed.map(_._2).sum
    val brokenJson = broken.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"broken":$brokenJson,"sf":"$sfDir"}"""
    println(line)
    // The same JSON also lands in a FILE (default `bench_queries.json` in
    // the working dir, overridable via SPARK_GRAFT_BENCH_OUT): the
    // machine-readable full-precision record that makes round-over-round
    // diffing a one-liner instead of a stdout scrape.
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_queries.json"))
    java.nio.file.Files.write(outPath,
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The driver's BENCH_r{N}.json artifact keeps only the LAST ~2000
    // chars of stdout; the full per-query line above (~6 KB at 160
    // queries) gets head-truncated there, leaving the artifact's
    // `parsed` field null (VERDICT r13 #8). So the FINAL stdout line is
    // a compact restatement of the same map — qNN short keys, values
    // rounded to 2 decimals, full-precision total — sized to survive
    // the tail together with sbt's closing [success] line, so the
    // driver artifact parses without the bench_queries.json companion.
    def shortVal(v: Double, decimals: Int): String =
      BigDecimal(v).setScale(decimals, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.stripTrailingZeros.toPlainString
    val shortNames = jobbed.map { case (k, _) =>
      k -> (if (k.startsWith("q")) k.takeWhile(_ != '_') else k) }.toMap
    val useShort = shortNames.values.toSet.size == shortNames.size
    // Per-query values must stay FRACTIONAL in the tail (VERDICT r15 #8:
    // integer-rounded values hide sub-second regressions): the total is
    // itself compacted to 2 decimals and an empty broken list is omitted,
    // which together with build.sbt's `showSuccess := false` (the
    // ~74-char [success] line no longer shares the 2000-char tail) keeps
    // the 1-decimal variant inside the tail at the current query count.
    // "job" is only a safe rename while exactly one non-q entry exists;
    // with two they'd collide into duplicate JSON keys and one timing
    // would be silently dropped by any reader
    val nonQCount = jobbed.count { case (k, _) =>
      val short = if (useShort) shortNames(k) else k
      !short.startsWith("q") }
    def compactAt(decimals: Int, stripQ: Boolean = false): String = {
      val cqs = jobbed.map { case (k, v) =>
        val short = if (useShort) shortNames(k) else k
        // last-resort width saver: "q160" -> "160" (and the one
        // non-query entry to "job") — ~4 chars/entry, documented here
        // and trivially reversible by the reader; losing the DECIMALS
        // would hide sub-second regressions, losing the "q" hides
        // nothing
        val key =
          if (!stripQ) short
          else if (short.startsWith("q")) short.drop(1)
          else if (nonQCount == 1) "job"
          else short
        "\"" + key + "\":" + shortVal(v, decimals) }
        .mkString("{", ",", "}")
      val brokenPart = if (broken.isEmpty) "" else s""","broken":$brokenJson"""
      s"""{"metric":"total","value":${shortVal(total, 2)},"unit":"sec","queries":$cqs$brokenPart,"sf":"${java.nio.file.Paths.get(sfDir).getFileName}"}"""
    }
    // budget: the driver keeps the LAST 2000 stdout chars; with the
    // [success] line suppressed the compact line is the final output,
    // so it may use 2000 minus sbt's "[info] " prefix and the newline
    val compact = Seq(compactAt(3), compactAt(2), compactAt(1),
        compactAt(2, stripQ = true), compactAt(1, stripQ = true))
      .find(_.length <= 1985).getOrElse(compactAt(1, stripQ = true))
    println(compact)
    spark.stop()
  }
}
