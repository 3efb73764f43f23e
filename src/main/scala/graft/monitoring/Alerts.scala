package graft.monitoring

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** S9 — alert emission AND delivery: evaluate monitoring probe metrics
  * against the reference's alerting thresholds, materialize breaches as
  * alert rows (the serving-store `alerts` row shape), and — via
  * [[streamingSink]], wired into the serving deployment by
  * [[graft.pipelines.StreamingJob.startServing]] — land them in the
  * store's `alerts` table with batch-keyed exactly-once upserts
  * (JdbcSinkSpec's serving-deployment test reads them back per batch).
  *
  * Mirrors `src/monitoring/alerting.py`: thresholds (56–64), the probe
  * queries each monitoring cycle runs — hourly data-quality and anomaly
  * rate, 5-minute liveness, 1-minute throughput, hourly processing
  * latency (107–186, 207–296) — and the stored alert record
  * (`store_alert`, 403–425: id, type, severity, title, description,
  * timestamp, metadata, resolved). The reference evaluates each probe
  * with a separate driver-side SQL round-trip per cycle; here the probes
  * fold into ONE aggregate pass over the scored frame (conditional
  * aggregates over a shared scan — map-side partials, single shuffle of
  * one row per partition), and rule evaluation is a narrow projection
  * over that one-row frame: rules-as-data, no driver loop, no
  * per-probe scan.
  *
  * Like the reference, a window with no data counts as a breach of the
  * quality probe (NULL avg coalesces to 0.0, `alerting.py:124`), and
  * rate probes treat an empty window as rate 0.
  */
object Alerts {

  /** Alert thresholds (`alerting.py:56-64`). `error_rate_max` exists in
    * the reference's threshold table but no probe evaluates it — kept
    * out here rather than inventing semantics the reference lacks.
    */
  val DataQualityMin = 0.8
  val LowQualityScore = 0.6
  val LowQualityRateMax = 0.1
  val AnomalyRateMax = 0.05
  val ProcessingLatencyMaxSec = 30.0
  val ThroughputMinPerMin = 1000L

  /** One probe rule: breach condition + the metric/threshold it reports. */
  final case class AlertRule(
      idPrefix: String, alertType: String, severity: String, title: String,
      condition: Column, metricValue: Column, threshold: Double)

  /** One-row probe metrics over a quality+anomaly-scored frame at a
    * pinned `now` (deterministic replay of the reference's wall-clock
    * windows). Expects `quality_score` and `anomaly_score` columns;
    * `latencyUs` optionally supplies an ingest→processing latency column
    * (microseconds) for the latency probe — batch replay has no
    * processing stamp (SURVEY §2.12), streaming supplies one.
    */
  def probeMetrics(scored: DataFrame, now: Column, tsCol: String = "ts",
                   latencyUs: Option[Column] = None): DataFrame = {
    val ts = col(tsCol)
    val lastHour = ts >= now - expr("INTERVAL 1 HOUR")
    val last5m = ts >= now - expr("INTERVAL 5 MINUTES")
    val last1m = ts >= now - expr("INTERVAL 1 MINUTE")
    val base = Seq(
      avg(when(lastHour, col("quality_score"))).as("avg_quality"),
      count(when(lastHour, 1)).as("total_records"),
      count(when(lastHour && col("quality_score") < LowQualityScore, 1))
        .as("low_quality_count"),
      count(when(lastHour && col("anomaly_score") > 0.0, 1)).as("anomaly_count"),
      count(when(last5m, 1)).as("recent_records"),
      count(when(last1m, 1)).as("throughput_per_min"))
    val withLatency = base ++ latencyUs.map(l =>
      (avg(when(lastHour, l)) / 1e6).as("avg_latency_sec"))
    scored.agg(withLatency.head, withLatency.tail: _*)
  }

  /** The reference's probe rules over a [[probeMetrics]] row. */
  def rules(hasLatency: Boolean): Seq[AlertRule] = {
    val avgQ = coalesce(col("avg_quality"), lit(0.0))
    val lowRate = when(col("total_records") > 0,
      col("low_quality_count").cast("double") / col("total_records"))
      .otherwise(lit(0.0))
    val anomalyRate = when(col("total_records") > 0,
      col("anomaly_count").cast("double") / col("total_records"))
      .otherwise(lit(0.0))
    val base = Seq(
      AlertRule("data_quality", "data_quality", "warning",
        "Data Quality Below Threshold",
        avgQ < DataQualityMin, avgQ, DataQualityMin),
      AlertRule("low_quality_rate", "data_quality", "critical",
        "High Low Quality Data Rate",
        lowRate > LowQualityRateMax, lowRate, LowQualityRateMax),
      AlertRule("no_data", "system_health", "critical", "No Data Received",
        col("recent_records") === 0,
        col("recent_records").cast("double"), 0.0),
      AlertRule("low_throughput", "performance", "warning", "Low Throughput",
        col("throughput_per_min") < ThroughputMinPerMin,
        col("throughput_per_min").cast("double"),
        ThroughputMinPerMin.toDouble),
      AlertRule("high_anomaly_rate", "anomaly", "warning", "High Anomaly Rate",
        anomalyRate > AnomalyRateMax, anomalyRate, AnomalyRateMax))
    if (hasLatency)
      base :+ AlertRule("high_latency", "performance", "warning",
        "High Processing Latency",
        col("avg_latency_sec") > ProcessingLatencyMaxSec,
        col("avg_latency_sec"), ProcessingLatencyMaxSec)
    else base
  }

  /** Evaluate the probe rules against a [[probeMetrics]] frame and emit
    * one alert row per breach, in the reference's stored-alert shape.
    * One narrow pass: every rule becomes a conditional struct, nulls
    * (non-breaches) are compacted away, survivors explode into rows —
    * no union of per-rule subplans, no driver evaluation.
    */
  def evaluate(metrics: DataFrame, now: Column): DataFrame = {
    val stamp = date_format(now, "yyyyMMdd_HHmmss")
    val structs = rules(metrics.columns.contains("avg_latency_sec")).map { r =>
      when(r.condition, struct(
        concat(lit(r.idPrefix + "_"), stamp).as("alert_id"),
        lit(r.alertType).as("alert_type"),
        lit(r.severity).as("severity"),
        lit(r.title).as("title"),
        concat(lit(r.title + ": "), round(r.metricValue, 6).cast("string"),
          lit(s" vs threshold ${r.threshold}")).as("description"),
        now.as("alert_ts"),
        round(r.metricValue, 6).cast("double").as("metric_value"),
        lit(r.threshold).as("threshold"),
        lit(false).as("resolved")))
    }
    metrics
      .select(explode(array_compact(array(structs: _*))).as("a"))
      .select(col("a.*"))
  }

  /** Probe + evaluate in one call. */
  def apply(scored: DataFrame, now: Column, tsCol: String = "ts",
            latencyUs: Option[Column] = None): DataFrame =
    evaluate(probeMetrics(scored, now, tsCol, latencyUs), now)

  /** Streaming alert landing: evaluate each micro-batch's probes at the
    * batch's MAX EVENT TIME (the reference's monitoring cycle uses wall
    * clock, `alerting.py:431-434`; event time makes replays
    * deterministic) and upsert breaches into the serving store's
    * `alerts` table keyed by batch id — a replayed batch re-emits the
    * same alerts over its prior attempt instead of duplicating them.
    * The one-row max() lookup per micro-batch is the only driver-side
    * step. The three columns the probes read are persisted around the
    * two actions (the lookup and the upsert), so the source is read
    * once per micro-batch.
    */
  def streamingSink(scored: DataFrame, url: String, checkpoint: String,
                    table: String = "alerts")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    scored.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val once = batch.select(col("ts"), col("quality_score"),
          col("anomaly_score")).persist()
        try {
          val maxTs = once.agg(max(col("ts"))).head().get(0)
          if (maxTs != null)
            graft.sources.JdbcSink.upsertBatch(
              apply(once, lit(maxTs)), batchId, url, table)
        } finally once.unpersist()
      }

  /** St4/S9 — streaming CUSUM drift alarms delivered end-to-end: map
    * [[graft.streaming.EventsStream.cusumAlerts]]'s alarm rows into the
    * stored-alert shape above and land them through
    * [[graft.sources.JdbcSink.streamingSink]]'s batch-keyed idempotent
    * upsert. The alert id is a pure function of (side, key, event
    * time), so a replayed micro-batch re-emits byte-identical rows over
    * its prior attempt — the same exactly-once contract as the probe
    * alerts.
    */
  def cusumSink(alerts: org.apache.spark.sql.Dataset[
                  graft.streaming.EventsStream.CusumAlert],
                alarmAt: Double, url: String, checkpoint: String,
                table: String = "alerts")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val shaped = alerts.toDF().select(
      concat_ws("_", lit("cusum"), col("side"), col("key"),
        col("at_us").cast("string")).as("alert_id"),
      lit("drift").as("alert_type"),
      lit("warning").as("severity"),
      lit("CUSUM Drift").as("title"),
      concat(lit("CUSUM "), col("side"), lit(" drift on "), col("key"),
        lit(": "), round(col("sum"), 6).cast("string"),
        lit(s" vs threshold $alarmAt")).as("description"),
      timestamp_micros(col("at_us")).as("alert_ts"),
      round(col("sum"), 6).cast("double").as("metric_value"),
      lit(alarmAt).as("threshold"),
      lit(false).as("resolved"))
    graft.sources.JdbcSink.streamingSink(shaped, url, table, checkpoint)
  }
}
