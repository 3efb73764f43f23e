package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Anomaly.AnomalyRule
import graft.operators.IndexStore
import graft.streaming.EventsStream

/** Structured Streaming semantics tests over MemoryStream (SURVEY §5.4):
  * cross-batch window correctness (the St2 behavior the reference's
  * per-micro-batch windows get wrong), watermark late-drop, anomaly
  * stream, and session windows.
  */
/** Top-level so the case-class encoder stays codegen-friendly (a nested
  * class forces UnsafeProjection to fall back to interpreter mode).
  */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double, props: String)

class StreamingSpec extends SparkSpec {
  private lazy val sess = spark
  import sess.implicits._

  private def ev(id: Long, sec: Long, user: Long = 1L, typ: String = "click",
                 value: Double = 1.0) =
    Ev(id, new Timestamp(sec * 1000L), user, typ, value, "{}")

  test("windowed agg merges a window across micro-batches (St2 fixed)") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventsStream.windowedAnalytics(in.toDF())
      .writeStream.format("memory").queryName("win_upd").outputMode("update").start()
    try {
      // batch 1: two events inside window [60s, 120s)
      in.addData(ev(1, 61), ev(2, 70, user = 2))
      q.processAllAvailable()
      // batch 2: one more event in the SAME window — the reference's
      // per-batch windowing would emit a fragmented second row of count 1;
      // true streaming state must update the window to count 3
      in.addData(ev(3, 80, user = 3))
      q.processAllAvailable()
      val rows = spark.table("win_upd")
        .filter(col("window_start") === lit(new Timestamp(60000L)))
        .orderBy(col("record_count").desc).collect()
      assert(rows.head.getAs[Long]("record_count") == 3L)
    } finally q.stop()
  }

  test("watermark drops events later than the threshold (St3)") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventsStream.windowedAnalytics(in.toDF(), watermark = "1 minute")
      .writeStream.format("memory").queryName("win_app").outputMode("append").start()
    try {
      in.addData(ev(1, 61), ev(2, 70))
      q.processAllAvailable()
      // advance event time far past the window: watermark = 600-60s ≫ 120s
      in.addData(ev(3, 600))
      q.processAllAvailable()
      // the [60,120) window is finalized with 2 rows
      val emitted = spark.table("win_app")
        .filter(col("window_start") === lit(new Timestamp(60000L))).collect()
      assert(emitted.length == 1 && emitted.head.getAs[Long]("record_count") == 2L)
      // a late arrival inside the finalized window must be dropped
      in.addData(ev(4, 75))
      q.processAllAvailable()
      val after = spark.table("win_app")
        .filter(col("window_start") === lit(new Timestamp(60000L))).collect()
      assert(after.length == 1 && after.head.getAs[Long]("record_count") == 2L)
    } finally q.stop()
  }

  test("anomaly stream keeps only matching rows with rule scores (P4/P10)") {
    implicit val ctx = spark.sqlContext
    val rules = Seq(AnomalyRule("spike", col("value") > 100.0, 1.0))
    val in = MemoryStream[Ev]
    val q = EventsStream.anomalies(in.toDF(), rules)
      .writeStream.format("memory").queryName("anom").outputMode("append").start()
    try {
      in.addData(ev(1, 10, value = 50.0), ev(2, 20, value = 150.0), ev(3, 30, value = 99.9))
      q.processAllAvailable()
      val rows = spark.table("anom").select("event_id", "anomaly_score").collect()
      assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((2L, 1.0)))
    } finally q.stop()
  }

  test("quality filter + score run unchanged on the stream (P1/P2)") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventsStream.qualityChecked(in.toDF())
      .writeStream.format("memory").queryName("qual").outputMode("append").start()
    try {
      in.addData(ev(1, 10), ev(2, 20))
      q.processAllAvailable()
      val rows = spark.table("qual").select("quality_score").collect()
      assert(rows.length == 2 && rows.forall(_.getDouble(0) == 1.0))
    } finally q.stop()
  }

  test("session windows split per-user activity on the gap (§7.3)") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventsStream.sessionAgg(in.toDF(), gap = "1 minute", watermark = "1 minute")
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // user 1: burst at 0-30s (one session), burst at 600-610s (another)
      in.addData(ev(1, 0), ev(2, 30), ev(3, 600), ev(4, 610))
      // close the watermark well past both sessions
      in.addData(ev(5, 3600, user = 2))
      q.processAllAvailable()
      val rows = spark.table("sess").filter(col("user_id") === 1)
        .orderBy("session_start").collect()
      assert(rows.length == 2)
      assert(rows.map(_.getAs[Long]("n_events")).toSeq == Seq(2L, 2L))
    } finally q.stop()
  }

  test("restart from checkpoint resumes without loss or duplication (St5/St6)") {
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ck").toString
    val out = s"$dir/out"
    val ck = s"$dir/ck"
    val in = MemoryStream[Ev]
    val q1 = EventsStream.idempotentBatchSink(in.toDF(), out, ck).start()
    try {
      in.addData(ev(1, 10), ev(2, 20))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart: same source, same checkpoint — committed offsets skip 1,2
    val q2 = EventsStream.idempotentBatchSink(in.toDF(), out, ck).start()
    try {
      in.addData(ev(3, 30))
      q2.processAllAvailable()
    } finally q2.stop()
    val ids = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L)) // each exactly once
  }

  test("observed metrics ride each micro-batch (St8)") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    @volatile var observed: Option[org.apache.spark.sql.Row] = None
    val q = EventsStream.withMetrics(in.toDF())
      .writeStream.format("memory").queryName("obs").outputMode("append").start()
    try {
      in.addData(ev(1, 10, value = 10.0), ev(2, 20, value = 30.0))
      q.processAllAvailable()
      observed = q.lastProgress.observedMetrics.asScala.get("graft_metrics")
      assert(observed.isDefined)
      assert(observed.get.getAs[Long]("n_rows") == 2L)
      assert(observed.get.getAs[Double]("avg_value") == 20.0)
    } finally q.stop()
  }

  private implicit class MapConv[K, V](m: java.util.Map[K, V]) {
    def asScala: scala.collection.mutable.Map[K, V] =
      scala.jdk.CollectionConverters.MapHasAsScala(m).asScala
  }

  test("kafkaPayload: keyed JSON round-trips through the wire schema (S7)") {
    val df = Seq(ev(7, 42, user = 3, typ = "view", value = 5.5)).toDF()
    val payload = EventsStream.kafkaPayload(df).collect().head
    assert(payload.getAs[String]("key") == "3_view")
    val back = Seq(payload.getAs[String]("value")).toDF("value")
      .select(from_json(col("value"), EventsStream.schema).as("e"))
      .select("e.*").as[Ev].head()
    assert(back == Ev(7, new Timestamp(42000L), 3, "view", 5.5, "{}"))
  }

  test("writeKafkaBatch: sink-contract payload; absent connector is guarded (S7 write)") {
    val df = Seq(ev(7, 42, user = 3, typ = "view", value = 5.5)).toDF()
    // the kafka sink contract: key/value columns, string or binary
    val schema = EventsStream.kafkaPayload(df).schema
    assert(schema.fieldNames.toSeq == Seq("key", "value"))
    assert(schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.StringType))
    if (EventsStream.kafkaConnectorAvailable) {
      // connector present (Kafka-enabled distribution): the provider
      // must resolve; an actual save would need a broker, so stop at
      // the provider lookup the sink performs first
      assert(Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider") != null)
    } else {
      val e = intercept[IllegalArgumentException](
        EventsStream.writeKafkaBatch(df, "localhost:9092", "t"))
      assert(e.getMessage.contains("spark-sql-kafka"))
    }
  }

  test("gapAlerts: flatMapGroupsWithState emits per-user over-threshold gaps") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventsStream.gapAlerts(in.toDF(), thresholdUs = 60000000L) // 60 s
      .writeStream.format("memory").queryName("gaps").outputMode("append").start()
    try {
      // user 1: 0s, 10s (no gap alert), then batch 2 at 600s (gap 590s)
      in.addData(ev(1, 0), ev(2, 10))
      q.processAllAvailable()
      in.addData(ev(3, 600), ev(4, 605), ev(5, 1000, user = 2))
      q.processAllAvailable()
      val alerts = spark.table("gaps").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      // exactly one alert: user 1's 590s gap (10s -> 600s), detected
      // ACROSS the micro-batch boundary via kept state; user 2 has no
      // prior event, the 5s gap is under threshold
      assert(alerts.toSeq == Seq((1L, 590000000L)))
    } finally q.stop()
  }

  test("cusumAlerts: drift accumulates across micro-batches, resets after alarm") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    // target 10, slack 1 → stable values ≤ 11 never accumulate; each
    // drifted value 14 adds 3 to hi; alarm at 8 trips on the 3rd
    val q = EventsStream.cusumAlerts(in.toDF(), target = 10.0, slack = 1.0,
        alarmAt = 8.0)
      .writeStream.format("memory").queryName("cusum_st")
      .outputMode("append").start()
    try {
      // batch 1: stable, then two drifted values (hi = 3, then 6)
      in.addData(ev(1, 10, value = 10.0), ev(2, 20, value = 14.0),
        ev(3, 30, value = 14.0))
      q.processAllAvailable()
      assert(spark.table("cusum_st").count() == 0)
      // batch 2: the carried hi = 6 + 3 = 9 > 8 → alarm, then reset —
      // the following drifted value accumulates from 0 again
      in.addData(ev(4, 40, value = 14.0), ev(5, 50, value = 14.0))
      q.processAllAvailable()
      val alerts = spark.table("cusum_st").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getDouble(3)))
      assert(alerts.length == 1)
      assert(alerts.head == (("click", 40000000L, "hi", 9.0)))
      // downward drift trips the lo side
      in.addData(ev(6, 60, value = 1.0), ev(7, 70, value = 1.0))
      q.processAllAvailable()
      val lo = spark.table("cusum_st").collect()
        .filter(_.getString(2) == "lo")
      assert(lo.length == 1 && lo.head.getDouble(3) == 16.0)
    } finally q.stop()
  }

  test("cusumSink lands drift alarms in the JDBC store (stored-alert shape)") {
    implicit val ctx = spark.sqlContext
    val url = "jdbc:derby:memory:cusum_sink;create=true"
    val ck = java.nio.file.Files.createTempDirectory("graft_cusum_ck").toString
    val in = MemoryStream[Ev]
    val alerts = EventsStream.cusumAlerts(in.toDF(), target = 10.0,
      slack = 1.0, alarmAt = 8.0)
    val q = graft.monitoring.Alerts.cusumSink(alerts, alarmAt = 8.0,
      url, ck).start()
    try {
      // three drifted values: hi 3 → 6 → 9 > 8 → one alarm in-batch
      in.addData(ev(1, 10, value = 14.0), ev(2, 20, value = 14.0),
        ev(3, 30, value = 14.0))
      q.processAllAvailable()
      val landed = graft.sources.JdbcSink.readTable(spark, url, "alerts")
        .collect()
      assert(landed.length == 1, s"expected one stored alarm: ${landed.toSeq}")
      val r = landed.head
      assert(r.getAs[String]("alert_id") == "cusum_hi_click_30000000")
      assert(r.getAs[String]("alert_type") == "drift")
      assert(r.getAs[Double]("metric_value") == 9.0)
      assert(r.getAs[Double]("threshold") == 8.0)
      assert(!r.getAs[Boolean]("resolved"))
    } finally q.stop()
  }

  test("dedupedEvents drops re-deliveries of an event id across micro-batches") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventsStream.dedupedEvents(in.toDF())
      .writeStream.format("memory").queryName("dedup_st").outputMode("append").start()
    try {
      in.addData(ev(1, 100), ev(2, 101), ev(1, 100)) // in-batch duplicate
      q.processAllAvailable()
      in.addData(ev(2, 101), ev(3, 102)) // cross-batch re-delivery
      q.processAllAvailable()
      val ids = spark.table("dedup_st").select($"event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("stream-stream interval join: attribution within horizon, outer after watermark") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventsStream.attributedPurchases(in.toDF(),
        horizon = "10 seconds", watermark = "5 seconds")
      .writeStream.format("memory").queryName("attr").outputMode("append").start()
    try {
      // user 1: click at 100s and 103s, purchase at 105s -> both attribute;
      // click at 90s is outside the 10s horizon. user 2: purchase, no click.
      in.addData(ev(1, 90), ev(2, 100), ev(3, 103),
        ev(4, 105, typ = "purchase"), ev(5, 106, user = 2, typ = "purchase"))
      q.processAllAvailable()
      val inner = spark.table("attr").filter(col("click_id").isNotNull)
        .select(col("event_id"), col("click_id")).as[(Long, Long)].collect().sorted
      assert(inner.toSeq == Seq((4L, 2L), (4L, 3L)))
      // no outer row for user 2 yet: a matching click could still arrive
      assert(spark.table("attr").filter(col("click_id").isNull).isEmpty)
      // advance the click watermark past purchase time + horizon; the
      // unmatched purchase must then emit its left-outer null row
      in.addData(ev(6, 200))
      q.processAllAvailable()
      in.addData(ev(7, 300))
      q.processAllAvailable()
      val outer = spark.table("attr").filter(col("click_id").isNull)
        .select(col("event_id")).as[Long].collect()
      assert(outer.toSeq == Seq(5L))
    } finally q.stop()
  }

  test("stream-static enrichment join: broadcast dimension, stateless") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val q = in.toDF().join(broadcast(dim), Seq("user_id"), "left")
      .select($"event_id", coalesce($"tier", lit("none")).as("tier"))
      .writeStream.format("memory").queryName("enrich_st").outputMode("append").start()
    try {
      in.addData(ev(10, 100, user = 1), ev(11, 101, user = 2), ev(12, 102, user = 9))
      q.processAllAvailable()
      val got = spark.table("enrich_st").as[(Long, String)].collect().toMap
      assert(got == Map(10L -> "gold", 11L -> "silver", 12L -> "none"))
    } finally q.stop()
  }

  test("streaming near-dup: banded candidates across batches, no cross-talk") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("doc_id", "ts", "text")
    val q = graft.streaming.NearDupStream.candidates(df)
      .writeStream.format("memory").queryName("neardup_st").outputMode("append").start()
    try {
      val base = "the quick brown fox jumps over the lazy dog again and again today"
      val near = "the quick brown fox jumps over the lazy cat again and again today"
      val far = "completely unrelated text about spark structured streaming state"
      in.addData((1L, new Timestamp(100000L), base))
      q.processAllAvailable()
      // near-dup arrives in a LATER batch -> collides with bucket state;
      // unrelated doc shares no band
      in.addData((2L, new Timestamp(200000L), near), (3L, new Timestamp(201000L), far))
      q.processAllAvailable()
      val pairs = spark.table("neardup_st")
        .select($"doc_id", $"prior_id").as[(Long, Long)].collect().toSet
      assert(pairs.contains((2L, 1L)), s"near-dup pair missing from $pairs")
      assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
        s"unrelated doc produced candidates: $pairs")
      // a third copy pairs with BOTH earlier members of the bucket
      in.addData((4L, new Timestamp(300000L), base))
      q.processAllAvailable()
      val later = spark.table("neardup_st")
        .select($"doc_id", $"prior_id").as[(Long, Long)].collect().toSet
      assert(later.contains((4L, 1L)) && later.contains((4L, 2L)))
    } finally q.stop()
  }

  test("streaming SEMANTIC near-dup: hashed-embedding bands collide across batches") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("doc_id", "ts", "text")
    val q = graft.streaming.NearDupStream.semanticCandidates(df)
      .writeStream.format("memory").queryName("semdup_st")
      .outputMode("append").start()
    try {
      val base = "the quick brown fox jumps over the lazy dog again and again today"
      in.addData((1L, new Timestamp(100000L), base))
      q.processAllAvailable()
      // an exact copy shares EVERY band (identical embedding -> identical
      // signature); arriving in a later batch it must collide with state
      in.addData((2L, new Timestamp(200000L), base))
      q.processAllAvailable()
      val pairs = spark.table("semdup_st")
        .select($"doc_id", $"prior_id").as[(Long, Long)].collect().toSet
      assert(pairs.contains((2L, 1L)), s"identical doc missed: $pairs")
    } finally q.stop()
  }

  test("streaming lexical near-dup candidate recall vs batch q22 pairs") {
    // the lexical twin of the semantic SLO below: the batch answer is
    // q22's verified MinHash pairs (J >= 0.6); the stream's (32-band,
    // 2-row) banding catches a J >= 0.6 pair per band w.p. ~J^2, so
    // across 32 chances candidate recall should be ~1.0 minus
    // hot-bucket eviction losses
    implicit val ctx = spark.sqlContext
    val corpus = graft.sources.Tables.documents(spark, sf)
    val verified = graft.operators.Dedup.minHashPairs(
        corpus, "doc_id", "text", n = 3, threshold = 0.6)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(verified.nonEmpty, "batch ground truth is empty")
    val docs = corpus.select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1)
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("doc_id", "ts", "text")
    val q = graft.streaming.NearDupStream.candidates(df)
      .writeStream.format("memory").queryName("lexdup_recall")
      .outputMode("append").start()
    try {
      docs.grouped(125).zipWithIndex.foreach { case (chunk, i) =>
        in.addData(chunk.map { case (id, t) =>
          (id, new Timestamp(1000000L + i * 1000L), t) })
        q.processAllAvailable()
      }
      val cands = spark.table("lexdup_recall")
        .select($"doc_id", $"prior_id").as[(Long, Long)].collect()
        .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
      val recalled = verified.count(cands.contains)
      val recall = recalled.toDouble / verified.size
      info(f"lexical stream candidate recall: $recall%.3f " +
        s"($recalled of ${verified.size} verified pairs)")
      assert(recall >= 0.85,
        f"lexical stream recall $recall%.3f below the 0.85 floor " +
          s"(recalled $recalled of ${verified.size})")
    } finally q.stop()
  }

  test("deltaNearDup vs NearDupStream parity on the same corpus/batch split") {
    // the two incremental near-dup paths implement ONE contract with
    // different state: deltaNearDup (q167) probes a persisted banded
    // index per batch; NearDupStream keeps per-bucket member state at
    // ingest. Parity SLO (VERDICT r15 #6): every batch doc the
    // batch-incremental path flags as a dup must have a stream
    // CANDIDATE against some genuinely threshold-similar prior when the
    // corpus is streamed first and the batch after — same split as
    // q167 (corpus = doc_id % 5 != 4, batch = % 5 = 4), same n/
    // threshold. Run on the sf0.1 corpus (the fixture SF flags only 11
    // batch docs — too thin for an SLO; sf0.1 flags 72, and the
    // classifier holdout floor set the sf0.1-pinned-test precedent).
    // The stream can only miss via banding luck (~J^2 per band across
    // 32 bands) or hot-bucket eviction; the floor leaves margin for
    // testdata regeneration, not for a code regression — measured
    // coverage is recorded in BASELINE.md's round-16 section.
    implicit val ctx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.1")
    val corpus = docs.filter($"doc_id" % 5 =!= 4)
    val batch = docs.filter($"doc_id" % 5 === 4)
    val idx = graft.operators.Dedup.nearDupIndex(corpus, "doc_id", "text",
      n = 3).localCheckpoint()
    val decisions = graft.operators.Dedup.deltaNearDup(idx, batch,
        "doc_id", "text", n = 3, threshold = 0.6)
      .filter($"status" =!= "new")
      .select($"doc_id", $"dup_of").as[(Long, Long)].collect()
    assert(decisions.length > 50, s"fixture too weak: ${decisions.length}")
    // ground truth for "the emitted prior really is threshold-similar"
    val verified = graft.operators.Dedup.minHashPairs(
        docs, "doc_id", "text", n = 3, threshold = 0.6)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    val corpusRows = corpus.select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1)
    val batchRows = batch.select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1)
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("doc_id", "ts", "text")
    val q = graft.streaming.NearDupStream.candidates(df)
      .writeStream.format("memory").queryName("delta_parity")
      .outputMode("append").start()
    try {
      (corpusRows.grouped(500).toSeq ++ batchRows.grouped(500).toSeq)
        .zipWithIndex.foreach { case (chunk, i) =>
          in.addData(chunk.map { case (id, t) =>
            (id, new Timestamp(1000000L + i * 1000L), t) })
          q.processAllAvailable()
        }
      val cands = spark.table("delta_parity")
        .select($"doc_id", $"prior_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val covered = decisions.count { case (d, _) =>
        cands.getOrElse(d, Set.empty[Long]).exists(p =>
          verified.contains((math.min(d, p), math.max(d, p)))) }
      val recall = covered.toDouble / decisions.length
      info(f"delta-vs-stream decision coverage: $recall%.3f " +
        s"($covered of ${decisions.length} flagged batch docs)")
      assert(recall >= 0.9,
        f"delta-vs-stream coverage $recall%.3f below the 0.90 floor " +
          s"($covered of ${decisions.length})")
    } finally q.stop()
  }

  test("deltaSemNearDup vs semanticCandidates parity on the same split") {
    // the SEMANTIC twin of the lexical parity SLO above (VERDICT r16
    // #3): the incremental batch path (deltaSemNearDup against a
    // persisted signatureFrame) and the ingest-time stream path
    // (semanticCandidates' bounded per-bucket state) implement one
    // contract, so every batch doc the batch path flags as a dup must
    // have a stream CANDIDATE against some genuinely threshold-similar
    // prior when the corpus streams first and the batch after. Same
    // corpus/batch split and embedding surface as the q154 family
    // (hash-embedded documents, cos >= 0.8, 16 bands x 8 bits on both
    // sides), run at sf0.1 (the pinned-SLO precedent: the fixture SF
    // flags too few batch docs for a meaningful floor). Misses can only
    // come from banding luck or hot-bucket eviction — ATTRIBUTED in
    // round 19 (PROBES_r19): coverage 0.948/0.969/0.975 at maxBucket
    // 64/128/256 under the old newest-kept eviction, so eviction
    // dominated the recoverable half; first-seen representative
    // retention (same bound) recovers it to a measured 0.960, and the
    // floor rises 0.90 → 0.93 (margin for testdata regeneration, not a
    // code regression).
    implicit val ctx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.1")
    val emb = graft.operators.Similarity.hashEmbedRowwise(
        docs, "doc_id", "text")
      .filter($"embedding".isNotNull).localCheckpoint()
    val corpus = emb.filter($"doc_id" % 5 =!= 4)
    val batch = emb.filter($"doc_id" % 5 === 4)
    val idx = graft.operators.Similarity.signatureFrame(corpus, "doc_id",
      "embedding").localCheckpoint()
    val decisions = graft.operators.Similarity.deltaSemNearDup(idx, batch,
        "doc_id", "embedding", threshold = 0.8, rowsPerBand = 8)
      .filter($"status" =!= "new")
      .select($"doc_id", $"dup_of").as[(Long, Long)].collect()
    assert(decisions.length > 30, s"fixture too weak: ${decisions.length}")
    // ground truth for "the emitted prior really is threshold-similar"
    // — the q154-convention verified pair set at the wide banding
    val verified = graft.operators.Similarity.lshNearDupPairs(emb,
        "doc_id", "embedding", threshold = 0.8, rowsPerBand = 12)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    val corpusRows = docs.filter($"doc_id" % 5 =!= 4)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    val batchRows = docs.filter($"doc_id" % 5 === 4)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("doc_id", "ts", "text")
    val q = graft.streaming.NearDupStream.semanticCandidates(df)
      .writeStream.format("memory").queryName("sem_delta_parity")
      .outputMode("append").start()
    try {
      (corpusRows.grouped(500).toSeq ++ batchRows.grouped(500).toSeq)
        .zipWithIndex.foreach { case (chunk, i) =>
          in.addData(chunk.map { case (id, t) =>
            (id, new Timestamp(1000000L + i * 1000L), t) })
          q.processAllAvailable()
        }
      val cands = spark.table("sem_delta_parity")
        .select($"doc_id", $"prior_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val covered = decisions.count { case (d, _) =>
        cands.getOrElse(d, Set.empty[Long]).exists(p =>
          verified.contains((math.min(d, p), math.max(d, p)))) }
      val recall = covered.toDouble / decisions.length
      info(f"sem-delta-vs-stream decision coverage: $recall%.3f " +
        s"($covered of ${decisions.length} flagged batch docs)")
      assert(recall >= 0.93,
        f"sem-delta-vs-stream coverage $recall%.3f below the 0.93 floor " +
          s"($covered of ${decisions.length})")
    } finally q.stop()
  }

  test("streaming semantic near-dup candidate recall vs batch q154 pairs") {
    // q154 defines the batch answer on the documents corpus: hashed
    // embeddings -> banded LSH -> exact-cosine-verified pairs (>= 0.8).
    // The streamed path emits CANDIDATES from bounded per-bucket state
    // (16 bands x 8 bits, maxBucket 64, oldest-out) — it can miss a
    // verified pair two ways, both quantified here: banding (a pair at
    // cos 0.8 shares some 8-bit band w.p. ~1-(1-0.795^8)^16 ~ 0.94) and
    // hot-bucket eviction (shared-vocab buckets overflow maxBucket).
    // The floor is the documented SLO of the ingest-time path, not a
    // tautology: candidates are a superset filter, so recall is the
    // only number that matters (precision comes from downstream verify).
    implicit val ctx = spark.sqlContext
    val corpus = graft.sources.Tables.documents(spark, sf)
    val verified = graft.operators.Similarity.lshNearDupPairs(
        graft.operators.Similarity.hashEmbedRowwise(corpus, "doc_id", "text"),
        "doc_id", "embedding", threshold = 0.8, rowsPerBand = 12)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(verified.size > 100, s"batch ground truth too small: ${verified.size}")
    val docs = corpus.select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1)
    val in = MemoryStream[(Long, Timestamp, String)]
    val df = in.toDF().toDF("doc_id", "ts", "text")
    val q = graft.streaming.NearDupStream.semanticCandidates(df)
      .writeStream.format("memory").queryName("semdup_recall")
      .outputMode("append").start()
    try {
      docs.grouped(125).zipWithIndex.foreach { case (chunk, i) =>
        in.addData(chunk.map { case (id, t) =>
          (id, new Timestamp(1000000L + i * 1000L), t) })
        q.processAllAvailable()
      }
      val cands = spark.table("semdup_recall")
        .select($"doc_id", $"prior_id").as[(Long, Long)].collect()
        .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
      val recalled = verified.count(cands.contains)
      val recall = recalled.toDouble / verified.size
      info(f"stream candidate recall: $recall%.3f " +
        s"($recalled of ${verified.size} verified pairs; " +
        s"${cands.size} distinct candidates emitted)")
      // measured 0.982 (3182/3240) on this corpus; the floor leaves
      // margin for testdata regeneration, not for a code regression —
      // the plane model is deterministic, so a drop below 0.9 means the
      // stream path or the banding changed, not luck
      assert(recall >= 0.9,
        f"stream candidate recall $recall%.3f below the 0.90 floor " +
          s"(recalled $recalled of ${verified.size} verified pairs)")
    } finally q.stop()
  }

  test("clusterAssign is stream-safe: in-row argmax over micro-batches") {
    // the cluster-mixture's assignment stage is a literal-centroid
    // argmax — no shuffle, no state — so incoming documents can be
    // routed to their semantic cell at ingest time (the weights from
    // the batch q158 then apply as a broadcast join downstream)
    implicit val ctx = spark.sqlContext
    val batchCorpus = graft.sources.Tables.documents(spark, sf)
      .filter($"text".isNotNull)
      .select($"doc_id", $"text",
        graft.expressions.HashEmbedVec(
          graft.functions.TextFns.tokens($"text"), 64).as("embedding"))
    val expected = graft.operators.Similarity
      .clusterAssign(batchCorpus, "doc_id", "embedding", k = 8)
      .select($"doc_id", $"cell").as[(Long, Long)].collect().toMap
    // the same centroids drive the stream: capture the assignment
    // EXPRESSION by applying clusterAssign to the streaming frame —
    // the seeds are collected from the batch corpus, the argmax is a
    // pure projection, so the plan is fully stream-compatible
    val docs = batchCorpus.select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1).take(100)
    val in = MemoryStream[(Long, String)]
    val streamed = in.toDF().toDF("doc_id", "text")
      .select($"doc_id", graft.expressions.HashEmbedVec(
        graft.functions.TextFns.tokens($"text"), 64).as("embedding"))
    val qs = graft.operators.Similarity
      .clusterRoute(streamed, batchCorpus, "doc_id", "embedding", k = 8)
      .select($"doc_id", $"cell")
      .writeStream.format("memory").queryName("cellroute_st")
      .outputMode("append").start()
    try {
      in.addData(docs.take(50)); qs.processAllAvailable()
      in.addData(docs.drop(50)); qs.processAllAvailable()
      val got = spark.table("cellroute_st").as[(Long, Long)].collect().toMap
      assert(got.size == 100)
      got.foreach { case (id, cell) => assert(cell == expected(id),
        s"doc $id routed to $cell, batch says ${expected(id)}") }
    } finally qs.stop()
  }

  test("scrub is stream-safe: stateless narrow pass over micro-batches") {
    // the curation scrub is a pure projection, so it composes onto a
    // stream with no state, watermark, or output-mode constraints —
    // locked in here so a future stateful rewrite can't silently break
    // the streaming ingest-scrubbing path
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = graft.operators.Redact.scrub(in.toDF(), "props")
      .select($"event_id", $"scrubbed", $"n_redactions")
      .writeStream.format("memory").queryName("scrub_st").start()
    try {
      in.addData(Ev(1, new Timestamp(1000L), 1, "click", 1.0, "{\"k\": 42}"))
      q.processAllAvailable()
      in.addData(Ev(2, new Timestamp(2000L), 1, "click", 1.0, "reach me at a@b.co"))
      q.processAllAvailable()
      val got = spark.table("scrub_st")
        .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
      assert(got == Seq(
        (1L, "{\"k\": <NUM>}", 1L),
        (2L, "reach me at <EMAIL>", 1L)))
    } finally q.stop()
  }

  test("dsirScoreRowwise is stream-safe: frozen models, stateless pass") {
    // models collect from STATIC frames at build; the stream only flows
    // through the narrow kernel projection — no state, no output-mode
    // constraint. Streamed scores must equal the same docs scored in
    // batch (pure function of text + frozen models).
    implicit val ctx = spark.sqlContext
    import graft.operators.Curation
    val model = Seq((100L, "alpha beta gamma"), (101L, "alpha beta"))
      .toDF("doc_id", "text")
    val docs = Seq((1L, "alpha beta gamma"), (2L, "zz yy"), (3L, "one"))
    val in = MemoryStream[(Long, String)]
    val q = Curation.dsirScoreRowwise(in.toDF().toDF("doc_id", "text"),
        model, model, "doc_id", "text")
      .writeStream.format("memory").queryName("dsir_st").start()
    try {
      in.addData(docs.take(2)); q.processAllAvailable()
      in.addData(docs.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("dsir_st")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    val batch = Curation.dsirScoreRowwise(docs.toDF("doc_id", "text"),
        model, model, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(streamed == batch)
    assert(streamed.map(_._1) == Seq(1L, 2L, 3L))
  }

  test("logisticScore is stream-safe: frozen Rocchio model, stateless pass") {
    // the deployment split of q162/q163: rocchioTrain collects its
    // centroid model from a STATIC corpus snapshot; logisticScore is a
    // pure projection over the weight literal, so the same expression
    // scores a micro-batch with no state or output-mode constraint —
    // streamed scores must equal the same docs scored in batch
    implicit val ctx = spark.sqlContext
    import graft.operators.Curation
    def embed(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"y", graft.expressions.HashEmbedVec(
        graft.functions.TextFns.tokens($"text"), 64).as("embedding"))
    val docs = Seq(
      (1L, true, "spark streams data"), (2L, false, "quick brown fox"),
      (3L, true, "spark query engine"), (4L, false, "lorem ipsum dolor"))
    val corpus = embed(docs.toDF("doc_id", "y", "text"))
    val w = Curation.rocchioTrain(corpus, "embedding", $"y")
    val in = MemoryStream[(Long, Boolean, String)]
    val q = Curation.logisticScore(
        embed(in.toDF().toDF("doc_id", "y", "text")), "embedding", w)
      .select($"doc_id", $"score", $"keep")
      .writeStream.format("memory").queryName("clf_st").start()
    try {
      in.addData(docs.take(2)); q.processAllAvailable()
      in.addData(docs.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("clf_st")
      .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
    val batch = Curation.logisticScore(corpus, "embedding", w)
      .select($"doc_id", $"score", $"keep")
      .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
    assert(streamed == batch)
    assert(streamed.map(_._1) == Seq(1L, 2L, 3L, 4L))
    // the seed keyword docs are the kept class on this separable fixture
    assert(streamed.map(_._3) == Seq(1L, 0L, 1L, 0L))
  }

  test("debiasWith is stream-safe: offline model, stateless online apply") {
    // the deployment split of q135: pcaModel trains on a STATIC corpus
    // snapshot, debiasWith applies the frozen (mean, component) to the
    // stream as a pure narrow projection — streamed output must equal
    // the same vectors debiased in batch
    implicit val ctx = spark.sqlContext
    import graft.operators.Similarity
    val corpus = graft.sources.Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull).limit(64)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val dim = corpus.head._2.length
    val (m, _, v) = Similarity.pcaModel(
      corpus.toDF("vec_id", "embedding"), "embedding", dim, iters = 10)
    val in = MemoryStream[(Long, Array[Float])]
    val q = Similarity.debiasWith(in.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", dim, m, v)
      .writeStream.format("memory").queryName("debias_st").start()
    try {
      in.addData(corpus.take(32)); q.processAllAvailable()
      in.addData(corpus.drop(32)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("debias_st")
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    val batch = Similarity.debiasWith(corpus.toDF("vec_id", "embedding"),
        "vec_id", "embedding", dim, m, v)
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    assert(streamed == batch)
    assert(streamed.size == corpus.size)
  }

  test("streaming CMS: per-batch sketches sum to the batch-built sketch") {
    // CMS linearity is what makes the sketch a streaming accumulator: a
    // pipeline adds each micro-batch's bounded cell frame into a store
    // and the result is bit-identical to sketching the whole corpus at
    // once — locked in across a 2-batch split here
    implicit val ctx = spark.sqlContext
    import graft.operators.Sketch
    import graft.functions.TextFns
    val docs = (1 to 40).map(i =>
      (i.toLong, s"tok${i % 7} tok${i % 5} tok${i % 3} shared"))
    val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Sketch.countMin(batch
            .select(explode(TextFns.tokens(col("text"))).as("term")), "term")
          .collect().foreach { r =>
            val k = (r.getInt(0), r.getLong(1))
            cells(k) = cells.getOrElse(k, 0L) + r.getLong(2)
          }
      }.start()
    try {
      in.addData(docs.take(15)); q.processAllAvailable()
      in.addData(docs.drop(15)); q.processAllAvailable()
    } finally q.stop()
    val whole = Sketch.countMin(docs.toDF("doc_id", "text")
        .select(explode(TextFns.tokens(col("text"))).as("term")), "term")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cells.toMap == whole)
  }

  test("throughput: curationPass clears a 10k-doc micro-batch under the floor") {
    // the stateless curation pass is the shape intended for streams —
    // track its per-batch cost where it actually runs, so a future
    // regression of the row-wise kernels (SortedRunStats /
    // SortedContainsCount / WordNGrams falling back to interpreted
    // HOFs) shows up as a failed floor, not a silent bench drift
    implicit val ctx = spark.sqlContext
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def doc(i: Int): String =
      (0 until 40).map(j => words((i * 7 + j * 3) % words.length)).mkString(" ")
    val bench = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)]
    val q = graft.operators.Curation.curationPass(
        in.toDF().toDF("doc_id", "text"), bench, "doc_id", "text",
        Seq("low_diversity" -> ($"distinct_ratio" < 0.1)))
      .select($"doc_id", $"keep")
      .writeStream.format("memory").queryName("curation_thru").start()
    try {
      val t0 = System.nanoTime()
      in.addData((1 to 10000).map(i => (i.toLong, doc(i))))
      q.processAllAvailable()
      val sec = (System.nanoTime() - t0) / 1e9
      info(f"curationPass micro-batch: 10k docs in $sec%.1f s " +
        f"(${10000 / sec}%.0f docs/s)")
      // reference streaming floor: 1,000 records/min with <30 s latency;
      // the codegen'd pass clears 10k docs orders of magnitude faster
      assert(sec < 30.0, f"curation micro-batch took $sec%.1f s")
      assert(spark.table("curation_thru").count() == 10000L)
    } finally q.stop()
  }

  test("throughput: a 10k-record batch clears in far under the 30s floor") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventsStream.windowedAnalytics(in.toDF())
      .writeStream.format("memory").queryName("thru").outputMode("update").start()
    try {
      val t0 = System.nanoTime()
      in.addData((1 to 10000).map(i => ev(i.toLong, 60 + i % 300, user = i % 50)))
      q.processAllAvailable()
      val sec = (System.nanoTime() - t0) / 1e9
      // reference alert floor: 1,000 records/min sustained, <30 s latency
      assert(sec < 30.0, f"micro-batch took $sec%.1f s")
      assert(spark.table("thru").agg(sum("record_count")).collect().head.getLong(0) >= 10000L)
    } finally q.stop()
  }

  test("CurationStream: incrementalStep per micro-batch — decisions per batch_id, store grows, replay idempotent") {
    implicit val ctx = spark.sqlContext
    import java.nio.file.Files
    import graft.operators.Dedup
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra " +
      "tango uniform victor whiskey xray"
    val uniq = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen eighteen " +
      "nineteen twenty twentyone twentytwo twentythree twentyfour"
    val bench = Seq((0L, "benchmark prose entirely disjoint from every " +
      "stream document body here")).toDF("doc_id", "text")
    val store = Files.createTempDirectory("graft_curstream_store").toString
    IndexStore.write(IndexStore.Lexical,
      Dedup.nearDupIndex(Seq((1L, base)).toDF("doc_id", "text"),
        "doc_id", "text", n = 3),
      store, width = 32, bandBuckets = 16, idBuckets = 16)
    val out = Files.createTempDirectory("graft_curstream_out").toString
    val ckpt = Files.createTempDirectory("graft_curstream_ckpt").toString
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.CurationStream.start(
      in.toDF().toDF("doc_id", "text"), store, bench, out, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      // micro-batch 0: a fresh doc (admit) + a copy of the standing doc
      in.addData((101L, uniq), (102L, base))
      q.processAllAvailable()
      val d0 = spark.read.parquet(s"$out/decisions")
        .filter($"batch_id" === 0L)
        .select("doc_id", "keep", "status", "dup_of", "curated")
        .as[(Long, Long, String, Option[Long], Long)].collect().sortBy(_._1)
      assert(d0.toSeq == Seq((101L, 1L, "new", None, 1L),
        (102L, 1L, "dup_of_corpus", Some(1L), 0L)), s"got ${d0.toSeq}")
      assert(spark.read.parquet(s"$store/payload").count() == 2L,
        "batch 0 must admit exactly the new doc")
      // micro-batch 1: a copy of the batch-0 admit — the store grew, so
      // it must come back dup_of_corpus POINTING AT the admitted doc
      in.addData((201L, uniq))
      q.processAllAvailable()
      val d1 = spark.read.parquet(s"$out/decisions")
        .filter($"batch_id" === 1L)
        .select("doc_id", "status", "dup_of")
        .as[(Long, String, Option[Long])].collect()
      assert(d1.toSeq == Seq((201L, "dup_of_corpus", Some(101L))),
        s"got ${d1.toSeq}")
      assert(spark.read.parquet(s"$store/payload").count() == 2L)
    } finally q.stop()
    // REPLAY batch 0 (a foreachBatch re-run after a crash between the
    // append and the commit): the store already holds 101's rows — the
    // self-pair exclusion converges the decisions (101 is not its own
    // dup) and the idempotent append lands nothing twice
    val replay = graft.pipelines.CurationJob.incrementalStep(spark, store,
        Seq((101L, uniq), (102L, base)).toDF("doc_id", "text"), bench,
        idempotent = true)
      .select("doc_id", "keep", "status", "curated")
      .as[(Long, Long, String, Long)].collect().sortBy(_._1)
    assert(replay.toSeq == Seq((101L, 1L, "new", 1L),
      (102L, 1L, "dup_of_corpus", 0L)), s"replay got ${replay.toSeq}")
    assert(spark.read.parquet(s"$store/payload").count() == 2L,
      "a replayed append must be a no-op")
  }

  test("managed store: LIVE compaction mid-stream — pointer swap, decisions stable, replay converges") {
    implicit val ctx = spark.sqlContext
    import java.nio.file.Files
    import graft.operators.Dedup
    val keepDoc = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliet kilo lima mike november oscar papa quebec romeo " +
      "sierra tango uniform victor whiskey xray"
    val dropDoc = "red orange yellow green blue indigo violet crimson " +
      "scarlet amber teal cyan magenta maroon olive navy coral ivory " +
      "jade pearl ruby topaz onyx garnet"
    val uniq = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen eighteen " +
      "nineteen twenty twentyone twentytwo twentythree twentyfour"
    val late = "uno dos tres cuatro cinco seis siete ocho nueve diez " +
      "once doce trece catorce quince dieciseis diecisiete dieciocho " +
      "diecinueve veinte veintiuno veintidos veintitres veinticuatro"
    val bench = Seq((0L, "benchmark prose entirely disjoint from every " +
      "stream document body here")).toDF("doc_id", "text")
    val root = Files.createTempDirectory("graft_managed_store").toString
    Dedup.initManagedNearDupIndexStore(spark, root,
      Dedup.nearDupIndex(Seq((1L, keepDoc), (2L, dropDoc))
        .toDF("doc_id", "text"), "doc_id", "text", n = 3),
      bands = 32, bandBuckets = 16, idBuckets = 16)
    def resolvedPayloadIds: Set[Long] =
      spark.read.parquet(s"${Dedup.resolveStoreDir(spark, root)}/payload")
        .select("id").as[Long].collect().toSet
    assert(Dedup.resolveStoreDir(spark, root).endsWith("versions/v00001"))
    val out = Files.createTempDirectory("graft_managed_out").toString
    val ckpt = Files.createTempDirectory("graft_managed_ckpt").toString
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.CurationStream.start(
      in.toDF().toDF("doc_id", "text"), root, bench, out, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      // micro-batch 0 probes and grows v00001 through the pointer
      in.addData((101L, uniq), (102L, dropDoc))
      q.processAllAvailable()
      val d0 = spark.read.parquet(s"$out/decisions")
        .filter($"batch_id" === 0L).select("doc_id", "status", "dup_of")
        .as[(Long, String, Option[Long])].collect().sortBy(_._1)
      assert(d0.toSeq == Seq((101L, "new", None),
        (102L, "dup_of_corpus", Some(2L))), s"got ${d0.toSeq}")
      assert(resolvedPayloadIds == Set(1L, 101L, 2L))
      // LIVE maintenance while the stream is running: retention-cut doc
      // 2, keep the standing doc and the stream's own admit — and a
      // build-concurrent arrival lands in BLUE inside the race window
      // (the afterBuild seam): the catch-up must carry it into green
      val retired = IndexStore.maintainManaged(spark, IndexStore.Lexical, root,
        keep = Some(Seq(1L, 101L).toDF("id")), reband = None,
        afterBuild = () => IndexStore.append(spark, IndexStore.Lexical, root,
          Dedup.nearDupIndex(Seq((150L, late)).toDF("doc_id", "text"),
            "doc_id", "text", n = 3)))
      assert(retired.endsWith("versions/v00001"))
      assert(Dedup.resolveStoreDir(spark, root).endsWith("versions/v00002"))
      assert(resolvedPayloadIds == Set(1L, 101L, 150L),
        "green must hold the keep set PLUS the build-concurrent arrival")
      // micro-batch 1 resolves green: the admitted doc and the
      // catch-up doc still match, the dropped doc is forgotten
      in.addData((201L, uniq), (202L, dropDoc), (203L, late))
      q.processAllAvailable()
      val d1 = spark.read.parquet(s"$out/decisions")
        .filter($"batch_id" === 1L).select("doc_id", "status", "dup_of")
        .as[(Long, String, Option[Long])].collect().sortBy(_._1)
      assert(d1.toSeq == Seq((201L, "dup_of_corpus", Some(101L)),
        (202L, "new", None),
        (203L, "dup_of_corpus", Some(150L))), s"got ${d1.toSeq}")
      assert(resolvedPayloadIds == Set(1L, 101L, 150L, 202L))
    } finally q.stop()
    // replay of the post-swap batch converges against the green store
    val replay = graft.pipelines.CurationJob.incrementalStep(spark, root,
        Seq((201L, uniq), (202L, dropDoc), (203L, late))
          .toDF("doc_id", "text"), bench, idempotent = true)
      .select("doc_id", "status", "dup_of")
      .as[(Long, String, Option[Long])].collect().sortBy(_._1)
    assert(replay.toSeq == Seq((201L, "dup_of_corpus", Some(101L)),
      (202L, "new", None),
      (203L, "dup_of_corpus", Some(150L))), s"replay got ${replay.toSeq}")
    assert(resolvedPayloadIds == Set(1L, 101L, 150L, 202L),
      "a replayed append against the swapped store must be a no-op")
  }
}
