package graft

import java.nio.file.{Files, Path}
import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The run harness every engine main and the test session share: the
  * local session, the `noop` materialization and min-of-N timing the
  * measurements use, temp-tree cleanup, the job description that names a
  * phase, and the job recorder that reads those names back.
  */
object Harness {

  /** A main's worker count: `SPARK_GRAFT_CPUS`, else `default`. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** A local session on `cpus` worker threads with as many shuffle
    * partitions, UTC session time, TIMESTAMP(NANOS) parquet columns read
    * as longs (`graft.sources.Tables` normalizes them), no UI and WARN
    * logging; `extra` confs are set last, so they override these. */
  def session(cpus: Int, extra: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `df` in full through the `noop` sink. Unlike `count()`, which
    * lets Catalyst drop sorts and prune every column, this executes the
    * plan a user's write would. */
  def materialize(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** The fastest of `n` runs of `body`, in seconds. Each run starts from
    * a GC, so heap pressure left by earlier work does not land as a pause
    * inside it. */
  def minSeconds(n: Int)(body: => Unit): Double =
    (1 to n).map { _ =>
      System.gc()
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }.min

  /** Delete `p` and everything under it; a missing `p` is a no-op. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally walk.close()
    }

  /** Run `f` over a fresh temp directory, deleted afterwards. */
  def withTempDir[T](prefix: String)(f: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try f(dir) finally deleteTree(dir)
  }

  private val JobDescription = "spark.job.description"

  /** Run `f` with `spark.job.description` set to `name` on this thread's
    * local properties, restoring the caller's value afterwards. Jobs `f`
    * starts, on this thread or on threads it starts (adaptive-execution
    * stage jobs included), carry the name. */
  def phase[T](spark: SparkSession, name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobDescription)
    sc.setLocalProperty(JobDescription, name)
    try f finally sc.setLocalProperty(JobDescription, prev)
  }

  /** One Spark job a [[jobsOf]] body started: its description (None
    * where unset), call site, start time and wall time (-1 if it had not
    * ended), stages, and the tasks and executor run time of the stages
    * that ran. */
  final case class Job(id: Int, description: Option[String], callSite: String,
                       startMs: Long, wallMs: Long, stages: Int, tasks: Int,
                       taskTimeMs: Long)

  /** Run `body` and record every Spark job it starts, on this thread or
    * on threads it starts, in start order. The jobs carry a fresh tag; a
    * tagged sentinel job after `body` marks the end of their events on
    * the listener bus, so no event is waited for by time. */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val tag = s"graft-jobs-${UUID.randomUUID()}"
    val sentinel = s"$tag-sentinel"
    final class Acc(val job: Job) { var endMs = -1L; var tasks = 0; var taskMs = 0L }
    // written on the listener bus thread only, read after the sentinel
    val started = mutable.LinkedHashMap.empty[Int, Acc]
    val stageJob = mutable.HashMap.empty[Int, Int]
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        if (prop("spark.job.tags").exists(_.contains(tag))) {
          val desc = prop(JobDescription)
          if (desc.contains(sentinel)) sentinelSeen.countDown()
          else {
            // the result stage, created last, is named by the job's call site
            val site = e.stageInfos.maxByOption(_.stageId).fold("?")(_.name)
            started(e.jobId) = new Acc(Job(e.jobId, desc, site, e.time, -1L,
              e.stageInfos.size, 0, 0L))
            e.stageIds.foreach(stageJob(_) = e.jobId)
          }
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageJob.get(e.stageInfo.stageId).flatMap(started.get).foreach { a =>
          a.tasks += e.stageInfo.numTasks
          a.taskMs += Option(e.stageInfo.taskMetrics).fold(0L)(_.executorRunTime)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        started.get(e.jobId).foreach(_.endMs = e.time)
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val out = body
      phase(spark, sentinel)(sc.parallelize(Seq(1), 1).count())
      if (!sentinelSeen.await(30, TimeUnit.SECONDS))
        throw new IllegalStateException("jobsOf: the sentinel job was never seen")
      (out, started.values.toSeq.map(a => a.job.copy(
        wallMs = if (a.endMs < 0) -1L else a.endMs - a.job.startMs,
        tasks = a.tasks, taskTimeMs = a.taskMs)))
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }
}
