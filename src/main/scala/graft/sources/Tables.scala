package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Canonical accessors for the engine's input tables.
  *
  * The test data (`TESTDATA.md`) ships one Parquet file per table. In
  * production this would be a partitioned Parquet/Delta layout on
  * object storage; partition pruning then happens via partition-column
  * predicates instead of path strings (replaces the reference's manual
  * path-routing, `src/spark/batch/SensorDataAnalytics.scala:83-88`).
  *
  * Every load is a plain Parquet read, so Catalyst keeps full pushdown
  * (column pruning + predicate pushdown reach the vectorized Parquet
  * reader). What a load skips after the first is schema inference: a
  * bare `spark.read.parquet` reads footers in a one-task Spark job on
  * every call, over files that have not changed. [[load]] remembers the
  * inferred schema and passes it to `spark.read.schema(s).parquet`, which
  * runs no job; the relation, its attribute ids and its file listing are
  * still built fresh per load, so plans and results do not change.
  *
  * The memo holds metadata only, never rows. Its key is
  *   - the qualified table path;
  *   - the sorted `(path, modificationTime, length)` of every file under
  *     it, so a table rewritten in place misses;
  *   - the session values of [[SchemaConfs]], the confs that change what
  *     Parquet inference returns (`nanosAsLong` turns `events.ts` from
  *     LongType to a timestamp).
  * A schema from the same bytes under the same confs does not depend on
  * the session, so no session is part of the key or held by the memo.
  * It keeps at most [[MaxSchemas]] entries, least recently used evicted.
  * Its lock guards only the map: inference runs outside it, so loads
  * never wait on another load's Spark job, and two racing misses of one
  * table may both infer.
  */
object Tables {
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive")

  private val MaxSchemas = 256

  private final case class SchemaKey(path: String,
                                     files: Seq[(String, Long, Long)],
                                     confs: Seq[Option[String]])

  private val schemas =
    new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SchemaKey, StructType]): Boolean =
        size() > MaxSchemas
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    schemaKey(spark, path) match {
      case None => spark.read.parquet(path) // missing: Spark's own error
      case Some(key) =>
        schemas.synchronized(Option(schemas.get(key))) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemas.synchronized(schemas.put(key, df.schema))
            df
        }
    }
  }

  private def schemaKey(spark: SparkSession, path: String): Option[SchemaKey] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def leaves(st: FileStatus): Iterator[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).iterator.flatMap(leaves)
      else Iterator.single(st)
    try {
      val files = leaves(fs.getFileStatus(p))
        .map(f => (f.getPath.toString, f.getModificationTime, f.getLen))
        .toVector.sorted
      Some(SchemaKey(fs.makeQualified(p).toString, files,
        SchemaConfs.map(spark.conf.getOption)))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** `events.ts` has shipped under multiple parquet encodings across
    * driver testdata generations: TIMESTAMP(NANOS) (reads as raw-nanos
    * LongType under the `nanosAsLong` conf), TIMESTAMP_MICROS with
    * `isAdjustedToUTC=0` (reads as TimestampNTZType), and plain
    * TIMESTAMP_MICROS UTC (reads as TimestampType). Branch on the READ
    * schema so the engine normalizes every encoding to a regular
    * TimestampType column instead of hard-assuming one of them. The read
    * schema is the one [[load]] remembers; `nanosAsLong` is part of its
    * key, so the branch sees what inference under this conf returns.
    *
    * The `nanosAsLong` conf is also pinned at session construction in
    * Verify/Bench/SparkSpec; it is (re)set here only so the driver's own
    * smoke session (which we don't build) can read a nanos-encoded
    * `events` too. It exclusively affects TIMESTAMP(NANOS) columns.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // raw nanos: floor (not `div`, which truncates toward zero) so
        // pre-epoch nanos still floor to the correct microsecond — the
        // same ns→us conversion DuckDB applies
        raw.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case TimestampNTZType =>
        // micros, not UTC-adjusted: under a UTC session TZ the NTZ→TZ
        // cast is an exact relabeling (no wall-clock shift). Pin the TZ
        // here — like nanosAsLong above, an externally-built session
        // (the driver's) may not have set it, and a non-UTC session
        // would silently shift every timestamp in this branch.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _: TimestampType =>
        raw
      case other =>
        throw new IllegalStateException(
          s"events.ts read as unsupported type $other — testdata encoding changed again; " +
            "extend Tables.events to normalize it")
    }
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
