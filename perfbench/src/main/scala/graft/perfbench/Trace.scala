package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `kind` is `call` for a benchmark call into a
  * layer, `job` / `stage` for listener spans, which hang under the call
  * span that was open on the benchmark thread when they started.
  * Times are epoch milliseconds (listener events carry no finer clock).
  */
final case class Span(id: Int, parent: Int, kind: String, layer: String,
                      name: String, start: Double, var end: Double,
                      stats: mutable.Map[String, Double] = mutable.Map.empty)

/** The traced run's span recorder. Spans stay in memory and are written
  * once, when the run ends. With tracing off every call is a plain
  * pass-through and no listener is registered, so the untimed metrics
  * carry no tracing cost.
  */
final class Trace(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, Int]
  @volatile private var open: Int = -1
  /** Streaming query id → (layer, query name), for jobs the stream
    * threads start while the benchmark thread waits. */
  val streamQueries = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  def add(parent: Int, kind: String, layer: String, name: String,
          start: Double): Int = synchronized {
    val s = Span(spans.size, parent, kind, layer, name, start, Double.NaN)
    spans += s
    s.id
  }

  /** Run `f` as a call span of `layer`. */
  def span[A](layer: String, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val parent = open
      val id = add(parent, "call", layer, name, wallMs())
      open = id
      try f
      finally {
        val end = wallMs()
        synchronized { spans(id).end = end }
        open = parent
      }
    }

  /** Sub-millisecond wall clock on the epoch scale of listener events. */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def wallMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Catalyst phase times of every executed query, as `qe` spans; the
    * reader attributes each to the call span whose interval holds it. */
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val start = phases.values.map(_.startTimeMs).min.toDouble
        val end = phases.values.map(_.endTimeMs).max.toDouble
        record("qe", "none", funcName, start, end,
          phases.map { case (k, v) => s"${k}_ms" -> v.durationMs.toDouble })
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  def register(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val qid = Option(e.properties).map(_.getProperty("sql.streaming.queryId")).orNull
      val (parent, layer, name) = Option(qid).flatMap(q => Option(streamQueries.get(q))) match {
        case Some((l, n)) => (-1, l, n)
        case None =>
          val p = open
          (p, if (p >= 0) synchronized(spans(p).layer) else "none", "")
      }
      val id = add(parent, "job", layer, name, e.time.toDouble)
      synchronized {
        jobSpan(e.jobId) = id
        e.stageIds.foreach(s => stageJob(s) = id)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach(id => spans(id).end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val job = synchronized(stageJob.getOrElse(info.stageId, -1))
      val layer = if (job >= 0) synchronized(spans(job).layer) else "none"
      val id = add(job, "stage", layer, info.name,
        info.submissionTime.getOrElse(0L).toDouble)
      val m = info.taskMetrics
      synchronized {
        val s = spans(id)
        s.end = info.completionTime.getOrElse(0L).toDouble
        s.stats("tasks") = info.numTasks.toDouble
        if (m != null) {
          s.stats("cpu_ms") = m.executorCpuTime / 1e6
          s.stats("shuffle_bytes") = (m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten).toDouble
          s.stats("spill_bytes") = (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble
        }
      }
    }
  }

  /** Record a finished span with its figures (a streaming batch). */
  def record(kind: String, layer: String, name: String, start: Double,
             end: Double, stats: Map[String, Double]): Unit = if (enabled) {
    val id = add(-1, kind, layer, name, start)
    synchronized { spans(id).end = end; spans(id).stats ++= stats }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Spans as JSON lines, written when the run ends. */
  def write(path: String): Unit = if (enabled) {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      out.println(Json.render(mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "layer" -> s.layer, "name" -> s.name, "start" -> s.start,
        "end" -> s.end, "stats" -> s.stats)))
    } finally out.close()
  }
}
