package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.JdbcSink

/** S8 — JDBC serving store against embedded Derby: batchId-keyed
  * idempotent upsert (a REPLAYED batch must not duplicate rows), the
  * serving-table round trip, and the checkpointed streaming writer.
  */
class JdbcSinkSpec extends SparkSpec {
  private lazy val sess = spark
  import sess.implicits._

  private def derbyUrl(db: String) = s"jdbc:derby:memory:$db;create=true"

  test("replayed batch does not duplicate rows (idempotent upsert)") {
    val url = derbyUrl("replay")
    val batch = Seq((1L, "click", 10.0), (2L, "view", 20.0))
      .toDF("event_id", "event_type", "value")
    JdbcSink.upsertBatch(batch, batchId = 0L, url, "analytics")
    JdbcSink.upsertBatch(batch, batchId = 0L, url, "analytics") // replay
    val landed = JdbcSink.readTable(spark, url, "analytics")
    assert(landed.count() == 2) // not 4
    assert(landed.select("batch_id").distinct().as[Long].collect().toSeq == Seq(0L))
  }

  test("distinct batches append; replay of one leaves the other intact") {
    val url = derbyUrl("multi")
    val b0 = Seq((1L, 1.0)).toDF("event_id", "value")
    val b1 = Seq((2L, 2.0), (3L, 3.0)).toDF("event_id", "value")
    JdbcSink.upsertBatch(b0, 0L, url, "quality_checked")
    JdbcSink.upsertBatch(b1, 1L, url, "quality_checked")
    JdbcSink.upsertBatch(b1, 1L, url, "quality_checked") // replay batch 1
    val landed = JdbcSink.readTable(spark, url, "quality_checked")
    assert(landed.count() == 3)
    assert(landed.groupBy("batch_id").count()
      .as[(Long, Long)].collect().toMap == Map(0L -> 1L, 1L -> 2L))
  }

  test("a partial earlier attempt is replaced, not merged") {
    val url = derbyUrl("partial")
    val partial = Seq((1L, 1.0)).toDF("event_id", "value")
    val full = Seq((1L, 1.0), (2L, 2.0)).toDF("event_id", "value")
    JdbcSink.upsertBatch(partial, 5L, url, "anomalies") // crashed mid-batch
    JdbcSink.upsertBatch(full, 5L, url, "anomalies")    // recovery replay
    val landed = JdbcSink.readTable(spark, url, "anomalies")
    assert(landed.select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("serving deployment: one stream lands all four serving tables") {
    implicit val ctx = spark.sqlContext
    val url = derbyUrl("serving")
    val ck = Files.createTempDirectory("serving_ckpt").toString
    def ev(id: Long, sec: Long, typ: String = "click", value: Double = 1.0) =
      Ev(id, new java.sql.Timestamp(sec * 1000L), 1L, typ, value, "{}")
    val in = MemoryStream[Ev]
    val queries = graft.pipelines.StreamingJob.startServing(in.toDF(), url, ck)
    try {
      // batch 1: 3 clicks + 1 anomalous error inside one 1-minute window
      in.addData(ev(1, 0), ev(2, 10), ev(3, 20), ev(4, 15, "error", 200.0))
      queries.foreach(_.processAllAvailable())
      // two more batches to advance the watermark past the first window
      in.addData(ev(5, 600))
      queries.foreach(_.processAllAvailable())
      in.addData(ev(6, 700))
      queries.foreach(_.processAllAvailable())

      assert(JdbcSink.readTable(spark, url, "quality_checked").count() == 6)
      val anomalies = JdbcSink.readTable(spark, url, "anomalies")
      assert(anomalies.select("event_id").as[Long].collect().toSeq == Seq(4L))
      // watermark (700s - 2min) closed exactly the [0, 60) window: one
      // finalized row per event type in it, landed exactly once
      val analytics = JdbcSink.readTable(spark, url, "analytics")
      assert(analytics.select("event_type", "record_count")
        .as[(String, Long)].collect().toMap == Map("click" -> 3L, "error" -> 1L))
      // alerts at each batch's max event time: batch 1 trips throughput
      // (4 rec/min < 1000) and anomaly rate (1/4 > 0.05); batches 2 and 3
      // trip throughput only
      val alerts = JdbcSink.readTable(spark, url, "alerts")
      val byBatch = alerts.groupBy("batch_id").count()
        .as[(Long, Long)].collect().toMap
      assert(byBatch == Map(0L -> 2L, 1L -> 1L, 2L -> 1L))
      // count in Scala: Derby stores strings as CLOB and rejects a
      // pushed-down equality predicate on them
      assert(alerts.select("alert_type").as[String].collect()
        .count(_ == "anomaly") == 1)
    } finally queries.foreach(_.stop())
  }

  test("the alerts sink reads each micro-batch once: its input rows equal a JdbcSink query's") {
    val url = derbyUrl("alerts_once")
    val dir = Files.createTempDirectory("alerts_once_in")
    val ck = Files.createTempDirectory("alerts_once_ckpt").toString
    // staged outside the source directory, then moved in by one rename
    def feed(file: Int, ids: Range): Unit = {
      val staged = Files.createTempFile("alerts_once", ".json")
      Files.write(staged, ids.map(i => "{\"event_id\":" + i +
          ",\"ts\":\"2026-01-01T00:00:" + "%02d".format(i % 60) + "Z\"," +
          "\"user_id\":" + i % 3 + ",\"event_type\":\"click\"," +
          "\"value\":1.0,\"props\":\"{}\"}").mkString("\n").getBytes("UTF-8"))
      Files.move(staged, dir.resolve(s"e$file.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    feed(0, 0 until 40)
    val events = spark.readStream.schema(graft.streaming.EventsStream.schema)
      .json(dir.toString)
    val queries = graft.pipelines.StreamingJob.startServing(events, url, ck)
    try {
      queries.foreach(_.processAllAvailable())
      feed(1, 40 until 100)
      queries.foreach(_.processAllAvailable())
      // startServing's first query is the quality_checked JdbcSink, its
      // last the alerts sink; both read the same files
      def inputRows(q: org.apache.spark.sql.streaming.StreamingQuery) =
        q.recentProgress.map(_.numInputRows).sum
      assert(inputRows(queries.head) == 100L)
      assert(inputRows(queries.last) == inputRows(queries.head))
    } finally queries.foreach(_.stop())
  }

  test("streaming foreachBatch sink lands micro-batches exactly once") {
    val url = derbyUrl("stream")
    val checkpoint = Files.createTempDirectory("jdbc_ckpt").toString
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val q = JdbcSink.streamingSink(
        in.toDF().toDF("event_id", "value"), url, "stream_out", checkpoint)
      .start()
    try {
      in.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      in.addData((3L, 3.0))
      q.processAllAvailable()
      val landed = JdbcSink.readTable(spark, url, "stream_out")
      assert(landed.count() == 3)
      assert(landed.select("event_id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L))
    } finally q.stop()
  }
}
