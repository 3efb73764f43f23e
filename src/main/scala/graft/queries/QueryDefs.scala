package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Harness

/** Shared shapes for the declared query surface (SURVEY §2.11).
  *
  * Each query is a named pair: a Spark implementation
  * `(SparkSession, sfDir) => DataFrame` and (where ANSI-SQL-expressible) an
  * equivalent DuckDB oracle SQL over the same Parquet tables. Determinism
  * rules (SURVEY §2.11): total-order ORDER BY, no wall-clock columns,
  * floating aggregates rounded, timestamps compared as epoch microseconds,
  * dates as `yyyy-MM-dd` strings; every graded output column is
  * double/long/string — never decimal (see [[QueryDefs.moneySum]]).
  */
final case class QueryDef(
    name: String,
    spark: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDefs {
  /** Round a floating aggregate for oracle comparison. */
  def r6(c: Column): Column = round(c, 6)

  /** Bit-stable 6-decimal quantization: `floor(x*1e6 + 0.5)/1e6` — the
    * same IEEE op sequence in any engine (floor/multiply/divide are all
    * exactly specified), unlike `round()`, whose implementations diverge
    * at representation boundaries (Spark BigDecimal HALF_UP on the exact
    * decimal expansion vs DuckDB `std::round(x*1e6)/1e6` — seen live on
    * q108 at 53.3326575). Oracle twin:
    * `floor(x * 1000000.0 + 0.5) / 1000000.0`.
    */
  def q6(c: Column): Column =
    floor(c * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)

  /** Timestamp → epoch microseconds (DuckDB `epoch_us`). */
  def tsUs(c: Column): Column = unix_micros(c)

  /** Timestamp → `yyyy-MM-dd` day string (DuckDB `strftime '%Y-%m-%d'`). */
  def dayStr(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** A temp directory for a graded query's PERSISTED-store leg
    * (q183/q184/q185 write a corpus index store and then lazily read
    * it, so it cannot be deleted inside the query). One SHARED JVM
    * shutdown hook sweeps a per-prefix registry, and re-requesting a
    * prefix best-effort deletes the PREVIOUS iteration's store first
    * (safe: Bench/Verify rebuild the query plan per iteration, so the
    * old store has been fully consumed by then) — a long bench session
    * otherwise accumulates one hook thread plus one corpus-sized store
    * in /tmp per iteration (round-17 ADVICE).
    *
    * CALLER CONTRACT (round-18 ADVICE): one prefix = one sequential
    * consumer. The eager delete-on-re-request means a caller still
    * holding a lazy DataFrame over the previous store (or two
    * concurrent users of one prefix) reads missing files. Graded
    * queries satisfy this by construction — each uses its own
    * `graft_qNNN_*` prefix, fully consumes the store within one query
    * evaluation, and Bench/Verify run queries sequentially; a query
    * needing two LIVE stores at once uses two prefixes (q187/q188).
    */
  private val storeDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  private lazy val storeDirHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      storeDirs.values.forEach(p => Harness.deleteTree(p))))

  def tempStoreDir(prefix: String): String = {
    storeDirHook
    Option(storeDirs.remove(prefix)).foreach(Harness.deleteTree)
    val p = java.nio.file.Files.createTempDirectory(prefix)
    storeDirs.put(prefix, p)
    p.toString
  }

  /** ORDER BY with an exchange-protected child (optimization round 21,
    * guide §1.2 — don't compute things twice): a global sort range-
    * partitions its child, and the range partitioner's SAMPLING job
    * reads every row of the child first — so a SHUFFLE-FREE expensive
    * child (the stream-safe rowwise-kernel queries: one narrow codegen
    * pass, no exchange anywhere) is computed TWICE per sort, once to
    * sample and once to sort (measured as two equal ~0.5-0.7 s
    * single-task jobs on q85/q146). Inserting one hash exchange on the
    * first sort key directly below the sort makes the sampling job read
    * the exchange's shuffle files instead of re-running the kernel
    * chain. Row-content-neutral: hash partitioning moves rows, never
    * values, and the sort re-establishes the graded order.
    */
  def orderByOnce(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(keys.head).orderBy(keys: _*)

  /** Input-layout-adaptive spread (optimization round 21, guide §2.5
    * "input skew: one huge unsplittable file … repartition immediately
    * after the read"): the driver's test tables are single-row-group
    * parquet files, so a scan yields ONE split and every narrow kernel
    * above it (shingling, MinHash, rowwise encoders, embedding math)
    * runs serially until the first exchange — at 32 cores that is a
    * 32× loss on exactly the CPU-heavy stages. The spread fires ONLY
    * when the scan's available split count is below the session's
    * parallelism (at production scale a table has thousands of row
    * groups and this is a no-op — the gate measures the deficiency
    * directly instead of hard-coding either environment), and uses an
    * explicit partition count so AQE's byte-based coalescing cannot
    * fold the tiny-but-CPU-heavy rows back into one partition.
    * Hash-partitioned on a deterministic key: values never depend on
    * partitioning, and retried tasks reproduce the same assignment
    * (guide §2.5 on rand-derived keys).
    */
  def spreadInput(df: DataFrame, key: Column): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val cores = sc.defaultParallelism
    // planning-only (no job): the scan's split count under the current
    // file layout
    val parts = df.rdd.getNumPartitions
    if (parts * 2 <= cores) df.repartition(cores, key) else df
  }

  /** Money column (clean 2-decimal doubles) → exact DECIMAL(12,2).
    * All downstream arithmetic stays in decimal so sums are exact and
    * engine-independent; only one final `round(_, 2)` happens per
    * aggregate (Spark HALF_UP == DuckDB round-half-away for positives —
    * DuckDB's scale-reducing decimal CAST truncates, so never rely on it).
    */
  def money(c: Column): Column = c.cast("decimal(12,2)")

  /** Exact-decimal discounted price: price × (1 − discount). */
  def discPrice(price: Column, disc: Column): Column =
    money(price) * (lit(1).cast("decimal(3,2)") - disc.cast("decimal(4,2)"))

  /** Final money aggregate: exact decimal sum, round to cents, emit DOUBLE.
    * The graded output column must be double, not decimal: the driver's
    * value hash reads Spark parquet decimals as `Decimal('3.00')` but the
    * DuckDB-oracle pandas path yields float `3.0`, so a decimal output
    * column hash-mismatches even when numerically identical (ADVICE r1).
    * The cents value is exact in decimal before the cast, so both engines
    * cast the same exact number to the same nearest double.
    */
  def moneySum(c: Column): Column = round(sum(c), 2).cast("double")
}
