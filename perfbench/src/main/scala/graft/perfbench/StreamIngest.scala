package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.pipelines.StreamingJob
import graft.sources.JdbcSink
import graft.streaming.EventsStream

/** `stream_ingest`: the paper's serving deployment,
  * [[StreamingJob.startServing]] (quality → anomaly score → watermarked
  * windows and alerts, landed in an embedded Derby store), fed an open
  * loop of JSON-lines files: one generator thread moves each prepared
  * file into the watched directory at its due time, for `seconds`, then,
  * once those have landed, moves a fixed burst at once. An operation is
  * one file; its latency runs from its due time to the commit of the
  * last of the four sink queries' batches that read it.
  *
  * Set-up (once: a repetition costs as much as the timed phase) creates
  * the store, starts the four queries, waits until a first warm-up file
  * has landed in all of them, then feeds the other warm-up files at
  * once and waits until those have landed and the queries are idle.
  */
object StreamIngest {
  /** Sink query names in [[StreamingJob.startServing]] order, with the
    * layer each one's batch writes belong to. */
  val sinks = Seq("quality_checked" -> "sources", "analytics" -> "sources",
    "anomalies" -> "sources", "alerts" -> "monitoring")

  /** One reported micro-batch: when it was reported, how far into its
    * source's log it read, and the watermark it ran under. */
  final case class Progress(query: String, batchId: Long, wallMs: Double,
                            logOffset: Long, watermark: String)

  val MaxFilesPerBatch = 20

  private val LogOffset = """"logOffset"\s*:\s*(\d+)""".r

  def run(ctx: Ctx): Unit = {
    import ctx._
    val streamIn = s"$input/stream-$seconds"
    val plan = new String(Files.readAllBytes(Paths.get(s"$streamIn/plan.json")), "UTF-8")
    def planInt(k: String): Int = s""""$k"\\s*:\\s*(\\d+)""".r
      .findFirstMatchIn(plan).get.group(1).toInt
    val steadyN = planInt("steady_files")
    val burstN = planInt("burst_files")
    val warmN = planInt("warmup_files")
    val intervalMs = (""""interval_s"\s*:\s*([0-9.]+)""".r
      .findFirstMatchIn(plan).get.group(1).toDouble * 1000).round

    val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
    val lastProgress = new java.util.concurrent.atomic.AtomicReference[Double](0.0)
    val names = new java.util.concurrent.ConcurrentHashMap[String, String]()
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val now = trace.wallMs()
        lastProgress.set(now)
        val p = e.progress
        val name = Option(names.get(p.id.toString)).getOrElse("?")
        val off = Option(p.sources).filter(_.nonEmpty)
          .flatMap(s => Option(s(0).endOffset))
          .flatMap(o => LogOffset.findFirstMatchIn(o)).map(_.group(1).toLong)
          .getOrElse(-1L)
        val durations = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
        val state = Option(p.stateOperators).getOrElse(Array.empty)
        progress.add(Progress(name, p.batchId, now, off,
          Option(p.eventTime).flatMap(m => Option(m.get("watermark"))).getOrElse("")))
        trace.record("batch", "streaming", name, now - durations.getOrElse("triggerExecution", 0.0),
          now, durations.map { case (k, v) => s"${k}_ms" -> v } ++ Map(
            "rows" -> p.numInputRows.toDouble,
            "state_rows" -> state.map(_.numRowsTotal).sum.toDouble,
            "state_bytes" -> state.map(_.memoryUsedBytes).sum.toDouble))
      }
    })

    // A query has committed a file once a batch whose source end offset
    // covers the file's log batch has reported progress. Input row counts
    // cannot tell: the JSON scan drops records the quality filter rejects
    // before they are counted.
    def ck(q: String): String =
      s"$runDir/stream/ck/${if (q == "quality_checked") "quality" else q}"
    def committed(q: String): Int = {
      val maxOff = progress.asScala.filter(_.query == q).map(_.logOffset)
        .maxOption.getOrElse(-1L)
      readSourceLog(s"${ck(q)}/sources/0").values.count(_ <= maxOff)
    }

    // the source logs are read again only after a new progress report,
    // so the wait costs the running queries next to nothing
    def awaitFiles(expected: Int, timeoutS: Double): Unit = {
      val t0 = System.nanoTime()
      var seen = -1
      var done = false
      while (!done) {
        require(Main.secondsSince(t0) < timeoutS,
          s"stream did not commit $expected files within $timeoutS s: " +
            sinks.map { case (q, _) => s"$q=${committed(q)}" }.mkString(", "))
        val n = progress.size
        if (n != seen) {
          seen = n
          done = sinks.forall { case (q, _) => committed(q) >= expected }
        }
        if (!done) Thread.sleep(10)
      }
    }

    def lines(f: String): Long =
      Files.readAllLines(Paths.get(f)).asScala.count(_.nonEmpty).toLong

    // every file is staged before set-up starts, with its own
    // modification time one millisecond after the previous file's: the
    // file source orders new files by modification time, read at
    // millisecond resolution, and breaks ties in directory-listing order,
    // so files copied within one millisecond (a dozen of the burst's)
    // could be read out of order, and a record of an earlier file could
    // fall behind a watermark a later file had already moved
    val dir = s"$runDir/stream"
    Files.createDirectories(Paths.get(s"$dir/in"))
    Files.createDirectories(Paths.get(s"$dir/staging"))
    val warm = (0 until warmN).map(i => f"$streamIn/warmup/w$i%05d.json")
    val files = (0 until steadyN).map(i => f"$streamIn/steady/s$i%05d.json") ++
      (0 until burstN).map(i => f"$streamIn/burst/b$i%05d.json")
    // The burst is staged in a directory of its own and published by
    // one rename of that directory, so every query's listing sees all of
    // it or none of it: a listing that caught part of it would drain the
    // burst in one batch more. The source reads the files of the
    // directories in `in` (`in/*`): `feed` for the files moved one at a
    // time, `burst` for the burst; a glob that matched the single files
    // themselves would make every listing above 32 paths a Spark job.
    val nTimed = warmN + steadyN
    Files.createDirectories(Paths.get(s"$dir/staging/burst"))
    Files.createDirectories(Paths.get(s"$dir/in/feed"))
    val staged = {
      val base = System.currentTimeMillis()
      (warm ++ files).zipWithIndex.map { case (f, i) =>
        val sub = if (i < nTimed) "" else "burst/"
        val tmp = Paths.get(s"$dir/staging/$sub${Paths.get(f).getFileName}")
        Files.copy(Paths.get(f), tmp, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(tmp, FileTime.fromMillis(base + i))
        tmp
      }
    }
    def publish(i: Int): Unit =
      Files.move(staged(i), Paths.get(s"$dir/in/feed/${staged(i).getFileName}"),
        StandardCopyOption.ATOMIC_MOVE)
    // the open-loop generator: one thread, one file per interval
    val dueAll = Array.ofDim[Double](staged.size)
    val fedAll = Array.ofDim[Double](staged.size)
    def generate(from: Int, until: Int, start: Double, interval: Double): Unit = {
      val gen = new Thread(() => {
        (from until until).foreach { i =>
          dueAll(i) = start + (i - from) * interval
          val wait = dueAll(i) - trace.wallMs()
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          publish(i)
          fedAll(i) = trace.wallMs()
        }
      }, "perfbench-generator")
      gen.setDaemon(true)
      gen.start()
      gen.join()
    }
    def publishBurst(): Unit = {
      (nTimed until staged.size).foreach(i => dueAll(i) = trace.wallMs())
      Files.move(Paths.get(s"$dir/staging/burst"), Paths.get(s"$dir/in/burst"),
        StandardCopyOption.ATOMIC_MOVE)
      val now = trace.wallMs()
      (nTimed until staged.size).foreach(i => fedAll(i) = now)
    }

    // set-up: the store, the four queries, one warm-up file landed in all
    // of them (the first batches compile their plans), then the other
    // warm-up files at once, so the timed batches run on compiled code
    val setupStart = System.nanoTime()
    val url = s"jdbc:derby:$dir/serving;create=true"
    // at most MaxFilesPerBatch files a batch: the burst then drains in
    // batches of a fixed size, not in one batch of whatever the first
    // listing happened to see; steady batches stay well under the cap
    val events = spark.readStream.schema(EventsStream.schema)
      .option("maxFilesPerTrigger", MaxFilesPerBatch).json(s"$dir/in/*")
    val queries = trace.span("pipelines", "startServing") {
      StreamingJob.startServing(events, url, s"$dir/ck")
    }
    queries.zip(sinks).foreach { case (q, (name, layer)) =>
      names.put(q.id.toString, name)
      trace.streamQueries.put(q.id.toString, (layer, name))
    }

    // stop only between batches: an interrupted batch can leave a Derby
    // statement half done. Idle = no batch finished for `quietMs` and no
    // query sees unread input. Each phase also starts from an idle
    // pipeline, not behind a no-data batch the last watermark move set off.
    def awaitIdle(quietMs: Int): Unit =
      while (trace.wallMs() - lastProgress.get < quietMs ||
          queries.exists(_.status.isDataAvailable)) Thread.sleep(10)

    generate(0, 1, trace.wallMs(), 0)
    awaitFiles(1, 60)
    generate(1, warmN, trace.wallMs(), 0)
    awaitFiles(warmN, 60)
    awaitIdle(400)
    val reps = Seq(Main.secondsSince(setupStart))
    result("setup_reps_s") = reps
    result("setup_s") = result("session_s").asInstanceOf[Double] + reps.head

    Main.note("set-up done")
    // the timed phase: the steady files; once every one of them has
    // landed, the burst, so that no steady file waits behind a burst batch
    val total = staged.size
    trace.span("streaming", "timed") {
      generate(warmN, nTimed, trace.wallMs() + 50, intervalMs)
      awaitFiles(nTimed, 60)
      awaitIdle(400)
      publishBurst()
      awaitFiles(total, 90)
      // let the watermark's no-data batch close the last windows
      awaitIdle(400)
    }
    val due = dueAll.drop(warmN)
    val fed = fedAll.drop(warmN)
    queries.foreach(q => q.exception.foreach(e => throw e))
    result("heap_live_mb") = liveHeapMb()

    Main.note("timed phase done")
    // file → commit time: each query's source log says which log batch
    // picked a file; the first progress whose end offset covers that log
    // batch committed it
    val all = progress.asScala.toSeq
    val commit = sinks.map { case (q, _) =>
      val logOf = readSourceLog(s"${ck(q)}/sources/0")
      val prog = all.filter(p => p.query == q && p.logOffset >= 0).sortBy(_.batchId)
      files.map { f =>
        val name = Paths.get(f).getFileName.toString
        logOf.get(name).flatMap(b => prog.find(_.logOffset >= b)).map(_.wallMs)
          .getOrElse(Double.NaN)
      }
    }
    val done = files.indices.map(i => commit.map(_(i)).max)
    val lat = (0 until steadyN).map(i => done(i) - due(i))
    val burstStart = due(steadyN)
    val drainS = (done.drop(steadyN).max - burstStart) / 1000
    result("latency_ms") = lat
    result("latency_p50_ms") = Main.median(lat)
    result("items_per_s") = files.drop(steadyN).map(lines).sum / drainS
    result("ops_per_s") = files.size / ((done.max - due(0)) / 1000)
    result("generator_late_ms") = files.indices.map(i => fed(i) - due(i)).max
    result("backlog_files_max") = files.indices.map { i =>
      files.indices.count(j => fed(j) <= fed(i) && done(j) > fed(i))
    }.max
    result("burst_batches") = sinks.map { case (q, _) =>
      val logOf = readSourceLog(s"${ck(q)}/sources/0")
      files.drop(steadyN).flatMap(f => logOf.get(Paths.get(f).getFileName.toString))
        .distinct.size.toDouble
    }
    result("files") = files.map(f => Paths.get(f).getFileName.toString)
    result("file_committed") = done.map(d => !d.isNaN)
    result("watermark") = all.filter(_.query == "analytics").sortBy(_.batchId)
      .lastOption.map(_.watermark).getOrElse("")

    // untimed: read the serving store back for the checks
    Main.sideBySide(sinks.map { case (t, _) => () =>
      JdbcSink.readTable(spark, url, t).coalesce(1)
        .write.mode("overwrite").parquet(s"$runDir/out/$t")
    }: _*)
    awaitIdle(500)
    queries.foreach(_.stop())
    scala.util.Try(java.sql.DriverManager.getConnection(
      s"jdbc:derby:$dir/serving;shutdown=true"))
  }

  /** File name → log batch id, from a file source's metadata log (plain
    * and compacted files alike: each entry names its own batch). */
  def readSourceLog(dir: String): Map[String, Long] = {
    val Entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
    val out = mutable.Map.empty[String, Long]
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filterNot(_.getName.startsWith(".")).foreach { f =>
        Files.readAllLines(f.toPath).asScala.foreach {
          case Entry(path, b) =>
            val name = path.substring(path.lastIndexOf('/') + 1)
            out(name) = math.min(out.getOrElse(name, Long.MaxValue), b.toLong)
          case _ => ()
        }
      }
    out.toMap
  }
}
