package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Harness
import graft.operators.{Anomaly, Quality}
import graft.queries.CoreQueries
import graft.sources.{Tables, TableSink}

/** The reference's batch analytics job
  * (`src/spark/batch/SensorDataAnalytics.scala:15-73`) as one composed,
  * idiomatic pipeline: load → quality stage → five aggregate tables +
  * anomaly rollup, written with dynamic partition overwrite.
  *
  * Differences from the reference, all deliberate (SURVEY §4/§7.5):
  * the quality-checked frame is computed ONCE and reused by every
  * aggregate (the reference re-reads and re-executes per pipeline, with
  * `count()` guards that double-execute plans); partition routing is a
  * partition COLUMN (`event_day`), not hand-built path strings; empty
  * inputs need no guard (an empty write is a no-op partition overwrite).
  *
  * Runnable: `runMain graft.pipelines.BatchJob <sfDir> <outDir>`.
  */
object BatchJob {

  /** All five aggregate outputs keyed by table name, built from one
    * shared quality-checked frame (cached by [[run]]).
    */
  def aggregates(quality: DataFrame): Map[String, DataFrame] = {
    val byDay = quality.withColumn("event_day", to_date(col("ts")))
    Map(
      // A2 — daily analytics per type
      "daily_analytics" -> byDay
        .groupBy(col("event_day"), col("event_type"))
        .agg(
          count(lit(1)).as("record_count"),
          countDistinct(col("user_id")).as("unique_users"),
          min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
          avg(col("value")).as("avg_value"),
          stddev_samp(col("value")).as("stddev_value")),
      // A4 — per-user analytics + coverage
      "user_analytics" -> byDay
        .groupBy(col("event_day"), col("user_id"))
        .agg(
          count(lit(1)).as("record_count"),
          countDistinct(col("event_type")).as("unique_event_types"),
          avg(col("value")).as("avg_value"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            .as("coverage_us")),
      // A5 — value bucketing
      "value_buckets" -> byDay
        .groupBy(col("event_day"))
        .agg(
          count(lit(1)).as("total_count"),
          count(when(col("value") >= 150.0, 1)).as("high_count"),
          count(when(col("value") >= 100.0 && col("value") < 150.0, 1)).as("mid_count"),
          count(when(col("value") < 100.0, 1)).as("low_count"),
          avg(col("quality_score")).as("avg_quality")),
      // A3 — per-type conditional aggregates
      "type_conditional" -> byDay
        .groupBy(col("event_day"))
        .agg(
          count(lit(1)).as("record_count"),
          avg(when(col("event_type") === "purchase", col("value"))).as("avg_purchase_value"),
          max(when(col("event_type") === "error", col("value"))).as("max_error_value"),
          count(when(col("event_type") === "click", 1)).as("click_count")),
      // P4/P10/A6 — anomaly rollup
      "anomaly_rollup" -> Anomaly
        .detect(byDay, CoreQueries.anomalyRules)
        .groupBy(col("event_day"), col("event_type"))
        .agg(
          count(lit(1)).as("anomaly_count"),
          avg(col("anomaly_score")).as("avg_score"),
          countDistinct(col("user_id")).as("unique_users")))
  }

  /** Execute the full job: returns (table → row count) for observability.
    * Counts ride the writes via `observe()` — metrics accumulate during
    * the write action itself, instead of re-reading every written table
    * for a second scan-and-count per output.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String): Map[String, Long] = {
    val quality = Quality(
      Tables.events(spark, sfDir),
      required = Seq("ts", "user_id", "event_type"),
      scored = Seq("ts", "user_id", "event_type", "value", "props"))
      .cache() // one execution feeds every aggregate (reference re-read per pipeline)
    try {
      aggregates(quality).map { case (name, df) =>
        val withDay =
          if (df.columns.contains("event_day")) df
          else df.withColumn("event_day", to_date(col("ts")))
        val obs = org.apache.spark.sql.Observation(s"graft_batch_$name")
        TableSink.overwritePartitions(
          withDay.observe(obs, count(lit(1)).as("n_rows")),
          s"$outDir/$name", Seq("event_day"))
        name -> obs.get("n_rows").asInstanceOf[Long]
      }
    } finally quality.unpersist()
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = Harness.session(Harness.envCpus(4))
    val counts = run(spark, sfDir, outDir)
    counts.toSeq.sortBy(_._1).foreach { case (t, n) => println(s"[batchjob] $t: $n rows") }
    spark.stop()
  }
}
