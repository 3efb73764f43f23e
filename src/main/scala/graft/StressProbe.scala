package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Memory-pressure probe: the "spill-aware" claim, measured instead of
  * asserted. The heavy dedup pipeline (banded MinHash candidates +
  * exact verification + connected components over a ×k replica) runs
  * twice in one squeezed JVM (`SPARK_DRIVER_MEM=2g` at launch):
  *
  *   - LOOSE: default memory fraction, 32 shuffle partitions — the
  *     normal configuration at this heap.
  *   - TIGHT: `spark.memory.fraction = 0.1` and 8 shuffle partitions —
  *     each task gets a few tens of MB of execution memory, so the hash
  *     aggregates, sorts and sort-merge verify joins are FORCED through
  *     their spill paths (ExternalAppendOnlyUnsafeRowArray /
  *     UnsafeExternalSorter). Measured at `SPARK_DRIVER_MEM=3g`, ×25
  *     (125k docs): 3.1 GB spilled, rows identical, 1.27× slowdown
  *     (BASELINE.md). Below ~2 g the LOOSE baseline itself fails on
  *     broadcast build memory — the floor is the driver-side broadcast
  *     pool, not the spillable operators.
  *
  * A task-metrics listener accumulates memory+disk bytes spilled — the
  * probe PROVES the tight run actually spilled (a probe that never
  * spills proves nothing) — and both runs' pair and component counts
  * must be IDENTICAL: spilling may cost time, never rows. Prints one
  * JSON line with times, spill volumes, and the equality bits.
  */
object StressProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.envCpus(32)
    val k = sys.env.getOrElse("SPARK_GRAFT_STRESS_K", "5").toInt

    def run(tight: Boolean): (Double, Long, Long, Long) = {
      val spark =
        if (tight) Harness.session(cpus, "spark.sql.shuffle.partitions" -> "8",
          "spark.memory.fraction" -> "0.1")
        else Harness.session(cpus)
      @volatile var spilled = 0L
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            spilled += t.taskMetrics.memoryBytesSpilled +
              t.taskMetrics.diskBytesSpilled
      })
      val docs = graft.sources.Tables.documents(spark, sfDir)
        .select("doc_id", "lang", "text")
      val corpus =
        if (k == 1) docs
        else docs
          .select(col("*"),
            explode(sequence(lit(0), lit(k - 1))).as("copy"))
          .select((col("doc_id") * k + col("copy")).as("doc_id"),
            col("lang"),
            concat_ws(" ", transform(split(col("text"), " "),
              t => concat(t, lit("_"), col("copy")))).as("text"))
      def pipeline(): (Long, Long) = {
        val pairs = graft.operators.Dedup.minHashPairs(
            corpus, "doc_id", "text", n = 3, threshold = 0.6)
          .select("id_a", "id_b")
        val nPairs = pairs.count()
        val nComps = graft.operators.Dedup.connectedComponents(pairs)
          .select("comp").distinct().count()
        (nPairs, nComps)
      }
      pipeline() // untimed warmup (codegen/JIT)
      spilled = 0L
      var counts = (0L, 0L)
      val sec = Harness.minSeconds(1) { counts = pipeline() }
      val (nPairs, nComps) = counts
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      (sec, nPairs, nComps, spilled)
    }

    val (looseSec, loosePairs, looseComps, looseSpill) = run(tight = false)
    val (tightSec, tightPairs, tightComps, tightSpill) = run(tight = true)
    println(f"""{"probe":"stress","sf":"$sfDir","k":$k,""" +
      f""""loose":{"sec":$looseSec%.3f,"pairs":$loosePairs,"components":$looseComps,"spilled_bytes":$looseSpill},""" +
      f""""tight":{"sec":$tightSec%.3f,"pairs":$tightPairs,"components":$tightComps,"spilled_bytes":$tightSpill},""" +
      f""""slowdown":${tightSec / looseSec}%.2f,""" +
      s""""tight_spilled":${tightSpill > 0},""" +
      s""""rows_identical":${loosePairs == tightPairs && looseComps == tightComps}}""")
  }
}
