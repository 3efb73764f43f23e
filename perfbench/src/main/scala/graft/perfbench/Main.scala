package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._


import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every workload gets: the session, the tracer, where its inputs
  * are and where it may write, and the run's seed and length. */
final class Ctx(val spark: SparkSession, val trace: Trace, val input: String,
                val runDir: String, val seconds: Int, val seed: Long) {
  val result = mutable.LinkedHashMap.empty[String, Any]
  def tables: String = s"$input/tables"

  /** Materialize through the `noop` sink: every column and the final
    * sort are computed, nothing is written. */
  def materialize(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Live heap in MB: the heap in use right after a full collection
    * forced at the end of the timed phase (memory bean). */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** One benchmark run of one workload in this JVM. The Python launcher
  * generates the inputs, starts this main on the engine's classpath,
  * checks the outputs it leaves in the run directory and prints the
  * result line.
  *
  * `graft.perfbench.Main <workload> <inputDir> <runDir> <seconds> <trace 0|1> <seed>`
  */
object Main {
  /** Spark's local cores and shuffle partitions: the machine's four. */
  val Cores = 4

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Run every task on a thread of its own, wait for all, and rethrow
    * the first failure. */
  def sideBySide(tasks: (() => Unit)*): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.map { t =>
      val th = new Thread(() => t(), "perfbench-side")
      th.setUncaughtExceptionHandler((_, e) => failures.add(e))
      th
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(failures.peek()).foreach(e => throw e)
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val started = System.nanoTime()
  /** A progress line in the run's log. */
  def note(msg: String): Unit =
    println(f"[perfbench ${secondsSince(started)}%7.2f s] $msg")

  def main(args: Array[String]): Unit = {
    val mainEntry = System.nanoTime()
    val Array(workload, input, runDir, seconds, traceFlag, seed) = args
    val trace = new Trace(traceFlag == "1")
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$runDir/checkpoints")
      .config("spark.hadoop.hadoop.tmp.dir", s"$runDir/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    trace.register(spark)
    val sessionS = secondsSince(mainEntry)
    note(f"session up in $sessionS%.2f s")
    val ctx = new Ctx(spark, trace, input, runDir, seconds.toInt, seed.toLong)
    ctx.result("session_s") = sessionS
    ctx.result("seconds") = seconds.toInt
    try {
      workload match {
        case "query_mix" => QueryMix.run(ctx)
        case "stream_ingest" => StreamIngest.run(ctx)
        case "curation_step" => CurationStep.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      note("workload done")
      trace.write(s"$runDir/spans.jsonl")
      val out = new java.io.PrintWriter(s"$runDir/result.json", "UTF-8")
      try out.println(Json.render(ctx.result)) finally out.close()
    } finally spark.stop()
  }
}
