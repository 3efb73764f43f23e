package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference, AtomicReferenceArray}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Harness
import graft.expressions.BroadcastLookup

/** The PROBE-PRUNABLE persisted index store, written once for both
  * near-dup regimes. A [[StoreKind]] names what differs between them;
  * everything below serves either kind without asking which it is:
  *
  *   - [[Lexical]] — [[Dedup.nearDupIndex]] rows `(id, sh, hs, sig)`,
  *     banded into `(band, bh)` MinHash keys at `bands` (a divisor of
  *     64), with the `exact/` fingerprint side table
  *     ([[Dedup.writeFingerprintStore]]) beside it;
  *   - [[Semantic]] — [[Similarity.signatureFrame]] rows
  *     `(id, e_d, sig, n)`, banded into packed long `key`s at
  *     `rows_per_band`.
  *
  * A store DIRECTORY holds
  *
  *   - `payload/` — the frame rows partitioned by
  *     `idb = xxhash64(id) mod idBuckets`, so a probe's verify fetch
  *     reads only the id-buckets its candidates live in;
  *   - `banded/` — the band keys `(id, keys…)` partitioned by
  *     `bkt = (last key) mod bandBuckets`, so a probe reads only the
  *     band-buckets its own keys hash to;
  *   - `meta` — `key=value` lines: the kind's width key, `band_buckets`,
  *     `id_buckets`.
  *
  * Per-probe read volume is `(probed buckets / bandBuckets) × corpus` —
  * flat in corpus size while the bucket counts track it (callers pass
  * the counts; [[reband]] is the maintenance step that changes them, and
  * needs no rescan because signatures are stored). Every read passes the
  * kind's schema (ids are BIGINT by store contract), so none runs a
  * schema-inference job and an empty table reads as empty.
  *
  * A probe ([[probe]]) takes one of TWO PATHS, with identical decisions:
  *
  *   - the SMALL-DELTA path ([[smallDeltaProbe]]): a delta of at most
  *     [[MaxDeltaRows]] id rows and index rows (no `hotBucketDrop`) whose
  *     candidates stay within [[MaxCandidatePairs]] is probed in three
  *     shuffle-free jobs — collect the delta, scan the probed `banded/`
  *     buckets, scan the candidate `payload/` buckets and verify — with
  *     the bookkeeping on the driver, and returns local frames;
  *   - the SCALE path ([[prunedProbe]]): [[fetchCandidates]] plus
  *     [[deltaProbe]] at the store's width. Any delta above either bound
  *     falls back to it, and it is the one reference path the small-delta
  *     path is tested against.
  *
  * [[deltaProbe]] is the one DataFrame probe core of both kinds; the
  * in-memory entry points (`Dedup.deltaNearDup…`,
  * `Similarity.deltaSemNearDup…`) call it over a standing frame, and
  * only its within-batch leg (`StoreKind.batchPairs`) differs by kind.
  *
  * [[append]] writes a local batch of at most [[MaxDeltaRows]] rows (the
  * small path's admitted rows) in one job per table with no exchange;
  * any other frame is repartitioned on the bucket column. Both write one
  * file per bucket.
  *
  * A MANAGED root holds immutable versions, `$root/versions/vNNNNN/`,
  * plus `$root/CURRENT`, a pointer committed by temp file and
  * `Rename.OVERWRITE`. Every entry point resolves the pointer per call
  * ([[resolveStoreDir]]; an unmanaged path resolves to itself), which
  * makes [[maintainManaged]] safe under a live appender. The per-root
  * [[withStoreLock]] is JVM-wide — sound when the streaming step and
  * maintenance share one driver; cross-driver maintenance needs
  * external coordination.
  */
object IndexStore {

  /** A store directory's recorded layout: band width (the kind's
    * `widthKey`) and the two bucket counts. */
  final case class Layout(width: Int, bandBuckets: Int, idBuckets: Int)

  /** A table kept beside a kind's payload/banded pair in the same
    * version directory: managed maintenance rebuilds it into green
    * (restricted to the keep set) and catches it up under the lock. */
  trait SideTable {
    def exists(spark: SparkSession, dir: String): Boolean
    def rebuild(spark: SparkSession, blue: String, green: String,
                keeps: Option[DataFrame]): Unit
    def catchUp(spark: SparkSession, blue: String, green: String,
                dropped: Option[DataFrame]): Unit
  }

  /** What distinguishes one store kind from the other.
    *
    * @param name       the kind's name in job descriptions
    * @param payload    the stored frame's columns and types (`id BIGINT`
    *                   first, `sig` among them); every read passes it, so
    *                   no read infers a schema
    * @param widthKey   the band width's key in `meta`
    * @param widthRule  the width's validity test and its description
    * @param bandKeys   signature × width × flips → the signature's band
    *                   keys as `array<struct<keyCols…>>`; stored rows
    *                   band at flips = 0, a probe's flips widen its key
    *                   set
    * @param keyCols    the band-key columns and types; the LAST one is
    *                   the `bigint` hash the `bkt` partition is taken from
    * @param verifyCols the payload columns a pair's verify reads, as
    *                   `<col>_i` (incoming) and `<col>_c` (standing)
    * @param verify     candidate pairs × threshold → the pairs that are
    *                   near-duplicates
    * @param batchPairs the within-batch leg of [[deltaProbe]]:
    *                   `(batch, batchKeys, threshold, width, flips,
    *                   hotBucketDrop, hotBucketCap)` → the verified pairs
    *                   `(id_a, id_b)`, `id_a < id_b`, among a delta's own
    *                   index rows; `batchKeys` are the core's probe-side
    *                   key rows `(id, keyCols…)`
    * @param side       a side table maintenance carries along
    */
  final case class StoreKind(name: String, payload: StructType,
                             widthKey: String,
                             widthRule: (Int => Boolean, String),
                             bandKeys: (Column, Int, Int) => Column,
                             keyCols: StructType, verifyCols: Seq[String],
                             verify: (DataFrame, Double) => DataFrame,
                             batchPairs: (DataFrame, DataFrame, Double, Int, Int,
                               Int, Int) => DataFrame,
                             side: Option[SideTable] = None) {
    def checkWidth(width: Int): Unit =
      require(widthRule._1(width), s"$widthKey must be ${widthRule._2}, got $width")
    def checkLayout(l: Layout): Unit = {
      checkWidth(l.width)
      require(l.bandBuckets >= 1 && l.idBuckets >= 1,
        s"bucket counts must be positive, got ${l.bandBuckets}/${l.idBuckets}")
    }
    private[IndexStore] def metaKeys = Seq(widthKey, "band_buckets", "id_buckets")
    private[IndexStore] def columns: Seq[Column] = payload.fieldNames.toSeq.map(col)
    /** `(id, keyCols…)`: one row per band key of each `(id, sig)` row. */
    private[IndexStore] def keyRows(frame: DataFrame, width: Int,
                                    flips: Int): DataFrame =
      frame.select(col("id"), inline(bandKeys(col("sig"), width, flips)))
    private[IndexStore] def payloadSchema: StructType =
      payload.add("idb", LongType)
    private[IndexStore] def bandedSchema: StructType =
      StructType(StructField("id", LongType) +: keyCols.fields)
        .add("bkt", LongType)
  }

  val Lexical: StoreKind = StoreKind("lexical",
    StructType.fromDDL("id BIGINT, sh ARRAY<STRING>, hs ARRAY<BIGINT>, sig ARRAY<BIGINT>"),
    "bands", (w => w >= 1 && 64 % w == 0, "a divisor of the 64-hash signature"),
    (sig, w, _) => Dedup.bandKeyStructs(sig, w),
    StructType.fromDDL("band INT, bh BIGINT"), Seq("sh", "hs"),
    Dedup.jaccardVerify,
    // the core's own batch key rows, not a second banding of the batch
    (batch, keys, t, _, _, drop, cap) => Dedup.verifiedJaccard(
      Dedup.candidatePairs(keys, Seq("band", "bh"), cap, dropOver = drop), batch, t),
    Some(Dedup.FingerprintSide))

  val Semantic: StoreKind = StoreKind("semantic",
    StructType.fromDDL("id BIGINT, e_d ARRAY<DOUBLE>, sig ARRAY<INT>, n DOUBLE"),
    "rows_per_band",
    (w => w >= 1 && w <= Similarity.MaxRowsPerBand,
      s"in [1, ${Similarity.MaxRowsPerBand}]"),
    Similarity.bandKeyStructs, StructType.fromDDL("key BIGINT"),
    Seq("e_d", "n"), Similarity.cosineVerify,
    // at flips = 1 the batch leg bands by the same ≤1-flip rule as the
    // cross leg; band width is its only bucket control (no hotBucketDrop)
    (batch, _, t, w, flips, _, _) =>
      if (flips >= 1) Similarity.lshNearDupPairsMultiProbeFromSig(batch, t, w, flips)
      else Similarity.lshNearDupPairsFromSig(batch, t, w))

  // ------------------------------------------------------------- meta

  /** Driver-side memo of parsed meta (fewer jobs and RPCs): a store
    * directory's meta is written once — appends never touch it,
    * compaction and rebanding write NEW directories, managed versions
    * are immutable — so it is cached on its path, guarded by the file's
    * modification time and length (one FS stat) so an in-place rewrite
    * invalidates it. */
  private val metaCache =
    new ConcurrentHashMap[String, (Long, Long, Map[String, Int])]()

  /** The integer values of `keys` in the meta at `metaPath` — the one
    * reader for every store table (both kinds' layouts and the `exact/`
    * side table's bucket count). A legacy one-row parquet `meta/`
    * directory is read through Spark. A missing key, a non-integer value
    * or an empty file throws an error that names the path. */
  private[operators] def readMeta(spark: SparkSession, metaPath: String,
                                  keys: Seq[String]): Seq[Int] = {
    def fail(why: String, cause: Throwable = null) =
      throw new IllegalStateException(s"store meta $metaPath $why", cause)
    val (p, fs) = hadoopFs(spark, metaPath)
    val st = try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => fail("is missing") }
    def parse(): Map[String, Int] =
      if (st.isDirectory) {
        val r = spark.read.parquet(metaPath).collect().headOption
          .getOrElse(fail("has no row"))
        r.schema.fieldNames.zipWithIndex.collect {
          case (k, i) if r.get(i).isInstanceOf[Int] => k -> r.getInt(i)
        }.toMap
      } else {
        val text =
          try {
            val in = fs.open(p)
            try new String(in.readAllBytes(), UTF_8) finally in.close()
          } catch { case e: java.io.IOException => fail("is unreadable", e) }
        if (text.trim.isEmpty) fail("is empty")
        text.split("\n").map(_.trim).filter(_.nonEmpty).map(l =>
          l.split("=", 2).map(_.trim) match {
            case Array(k, v) if v.toIntOption.isDefined => k -> v.toInt
            case _ => fail(s"has a malformed line '$l'")
          }).toMap
      }
    val m = metaCache.compute(metaPath, (_, prev) =>
      if (prev != null && prev._1 == st.getModificationTime &&
          prev._2 == st.getLen) prev
      else (st.getModificationTime, st.getLen, parse()))._3
    keys.map(k => m.getOrElse(k, fail(s"lacks '$k'")))
  }

  /** Write `meta` as `key=value` lines through the filesystem client
    * (no Spark job): to a temp file renamed over `meta`, so a reader
    * sees the old meta or the new one, never a partial file. A legacy
    * parquet `meta/` directory in the way is deleted first. */
  private[operators] def writeMeta(spark: SparkSession, metaPath: String,
                                   kv: (String, Int)*): Unit = {
    val (p, fs) = hadoopFs(spark, metaPath)
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory) fs.delete(p, true)
    replaceFile(spark, metaPath, kv.map { case (k, v) => s"$k=$v" }.mkString("\n"))
  }

  /** `path`'s recorded layout under `kind`, validated. */
  def layout(spark: SparkSession, kind: StoreKind, path: String): Layout = {
    val Seq(w, bb, ib) = readMeta(spark, s"$path/meta", kind.metaKeys)
    val l = Layout(w, bb, ib)
    try kind.checkLayout(l)
    catch { case e: IllegalArgumentException =>
      throw new IllegalStateException(s"store meta $path/meta: ${e.getMessage}")
    }
    l
  }

  // ------------------------------------------------- store directories

  // ids are BIGINT by store contract: rows are written with their id
  // cast, so `idb` hashes the same value every reader computes it from

  private def payloadRows(kind: StoreKind, rows: DataFrame,
                          l: Layout): DataFrame =
    rows.select(col("id").cast(LongType).as("id") +: kind.columns.tail :+
      pmod(xxhash64(col("id").cast(LongType)), lit(l.idBuckets.toLong)).as("idb"): _*)

  private def bandedRows(kind: StoreKind, rows: DataFrame,
                         l: Layout): DataFrame =
    kind.keyRows(rows.withColumn("id", col("id").cast(LongType)), l.width, 0)
      .withColumn("bkt",
        pmod(col(kind.keyCols.fieldNames.last), lit(l.bandBuckets.toLong)))

  /** The `payload/` table of the store directory `dir`, read under the
    * kind's schema (no inference job; an empty table reads as empty). */
  private def payloadTable(spark: SparkSession, kind: StoreKind,
                           dir: String): DataFrame =
    spark.read.schema(kind.payloadSchema).parquet(s"$dir/payload")

  /** The `banded/` table of the store directory `dir` (as [[payloadTable]]). */
  private def bandedTable(spark: SparkSession, kind: StoreKind,
                          dir: String): DataFrame =
    spark.read.schema(kind.bandedSchema).parquet(s"$dir/banded")

  /** One partition column's table write: repartitioned on it first so
    * each partition value lands in one task (one file per bucket). */
  private[operators] def land(rows: DataFrame, part: String, mode: String,
                              dir: String): Unit =
    rows.repartition(col(part)).write.mode(mode).partitionBy(part)
      .parquet(dir)

  /** Persist a `kind` frame as a store directory at `path`. */
  def write(kind: StoreKind, frame: DataFrame, path: String, width: Int,
            bandBuckets: Int = 256, idBuckets: Int = 256): Unit =
    writeStore(kind, frame, path, Layout(width, bandBuckets, idBuckets),
      bandedFromInput = false)

  private def writeStore(kind: StoreKind, frame: DataFrame, path: String,
                         l: Layout, bandedFromInput: Boolean): Unit = {
    kind.checkLayout(l)
    require(kind.payload.fieldNames.forall(frame.columns.contains),
      s"frame must hold (${kind.payload.fieldNames.mkString(", ")}); got " +
        frame.columns.mkString(", "))
    val spark = frame.sparkSession
    writeMeta(spark, s"$path/meta", kind.widthKey -> l.width,
      "band_buckets" -> l.bandBuckets, "id_buckets" -> l.idBuckets)
    def phase(table: String)(f: => Unit): Unit =
      Harness.phase(spark, s"store-write ${kind.name}: $table")(f)
    def banded(src: DataFrame): Unit = phase("banded")(
      land(bandedRows(kind, src, l), "bkt", "overwrite", s"$path/banded"))
    if (bandedFromInput) {
      // maintenance rewrites: the frame is itself a cheap materialized
      // read (a payload scan, at most joined against a checkpointed keep
      // set), so banded/ derives from it directly and the two writes run
      // side by side — a read-back would serialize write → read → write
      inParallel(phase("payload")(land(payloadRows(kind, frame, l), "idb",
        "overwrite", s"$path/payload")), banded(frame.select("id", "sig")))
    } else {
      // ONE pass over the caller's plan (at corpus scale a full text or
      // embedding pass): the payload write counts its rows via observe()
      // and banded/ derives from the just-written payload's (id, sig)
      // columns. An empty store bands the empty input (no re-read); its
      // observation may report nothing, when adaptive execution replaces
      // the empty plan, observe node included, by an empty relation.
      val obs = Observation()
      phase("payload")(land(payloadRows(kind, frame, l)
        .observe(obs, count(lit(1)).as("n_rows")), "idb", "overwrite", s"$path/payload"))
      banded(
        if (obs.get.get("n_rows").forall(_ == 0L))
          frame.select(col("id"), col("sig")).limit(0)
        else payloadTable(spark, kind, path).select("id", "sig"))
    }
  }

  /** The payload frame of the store at `rawPath` (pointer-resolved). */
  def read(spark: SparkSession, kind: StoreKind, rawPath: String): DataFrame =
    payloadTable(spark, kind, resolveStoreDir(spark, rawPath))
      .select(kind.columns: _*)

  /** Append-only maintenance: admitted rows (already computed for the
    * probe — the shared-frame shape) land in both tables under the
    * store's recorded layout. The two writes are independent jobs and
    * run side by side; callers pass a materialized frame, so no lineage
    * is computed twice.
    *
    * A LOCAL frame of at most [[MaxDeltaRows]] rows (the small-delta
    * probe's `admitted` rows) is written in one job per table, one task,
    * no exchange; any other frame is repartitioned on the bucket column,
    * one task per bucket ([[land]]). Both write one file per bucket.
    */
  def append(spark: SparkSession, kind: StoreKind, rawPath: String,
             newRows: DataFrame): Unit = {
    val path = resolveStoreDir(spark, rawPath)
    val l = layout(spark, kind, path)
    def phase(table: String)(f: => Unit): Unit =
      Harness.phase(spark, s"store-append ${kind.name}: $table")(f)
    newRows.queryExecution.optimizedPlan match {
      case r: LocalRelation if r.data.size <= MaxDeltaRows =>
        if (r.data.nonEmpty) inParallel(
          phase("payload")(landLocal(payloadRows(kind, newRows, l), "idb",
            s"$path/payload")),
          phase("banded")(landLocal(bandedRows(kind, newRows, l), "bkt",
            s"$path/banded")))
      case _ =>
        inParallel(
          phase("payload")(land(payloadRows(kind, newRows, l), "idb", "append",
            s"$path/payload")),
          phase("banded")(land(bandedRows(kind, newRows, l), "bkt", "append",
            s"$path/banded")))
    }
  }

  /** [[land]] for a bounded local frame: one task (a local frame's
    * partitions coalesce without an exchange) writes one file per
    * bucket. */
  private def landLocal(rows: DataFrame, part: String, dir: String): Unit =
    rows.coalesce(1).write.mode("append").partitionBy(part).parquet(dir)

  /** Idempotent [[append]]: rows already in the store are dropped first
    * — the replay-safe maintenance a `foreachBatch` sink needs, where a
    * batch that crashed between its append and its commit re-runs.
    *
    * The check runs PER TABLE: the plain append commits `payload/` and
    * `banded/` as two jobs, so a crash between them leaves a row in one
    * and not the other, and each table repairs itself. Banded rows are
    * keyed by `(id, keys…)`, not `id` alone: a crash mid job-commit can
    * leave only SOME of a row's band keys, and the replay appends
    * exactly the missing ones. Both existence reads are pruned to the
    * buckets the new rows hash to (a row's band keys live only in the
    * buckets its signature derives), so their volume is batch-bounded.
    */
  def appendIdempotent(spark: SparkSession, kind: StoreKind, rawPath: String,
                       newRows: DataFrame): Unit =
    Harness.phase(spark, s"store-append ${kind.name}: replay-safe") {
      val path = resolveStoreDir(spark, rawPath)
      val l = layout(spark, kind, path)
      val rows = newRows.localCheckpoint()
      val payload = payloadRows(kind, rows, l)
      val banded = bandedRows(kind, rows, l)
      // both tables' pruning key sets from one driver job (≤ idBuckets and
      // ≤ min(keys per row × batch, bandBuckets) values)
      val keys = payload.select(lit(0).as("t"), col("idb").as("k"))
        .union(banded.select(lit(1).as("t"), col("bkt").as("k")))
        .distinct().collect()
      def keysOf(t: Int) = keys.filter(_.getInt(0) == t).map(_.getLong(1)).toSeq
      val (idbs, bkts) = (keysOf(0), keysOf(1))
      val bandedId = "id" +: kind.keyCols.fieldNames.toSeq
      if (idbs.nonEmpty) inParallel(
        land(payload.join(payloadTable(spark, kind, path)
            .where(col("idb").isin(idbs: _*)).select("id"), Seq("id"), "left_anti"),
          "idb", "append", s"$path/payload"),
        land(banded.join(bandedTable(spark, kind, path)
            .where(col("bkt").isin(bkts: _*)).select(bandedId.map(col): _*)
            .distinct(), bandedId, "left_anti"),
          "bkt", "append", s"$path/banded"))
    }

  /** The bucket-pruned candidate fetch of a probe against the store at
    * `rawPath`: the batch's probe keys resolve a bounded bucket set
    * (≤ min(batch × keys per row, bandBuckets) — a bounded driver
    * collect), only those `banded/` partitions are read to find
    * candidates, and only the candidate id-buckets of `payload/` are
    * returned. The pruned payload is a superset of every band-matching
    * stored row (each brings its own id-bucket), so a probe core run
    * over it decides exactly as over the full frame. ONE collect yields
    * both the candidate id-buckets and the distinct candidate count
    * (idb partitions the id space, so per-bucket distinct counts sum to
    * the global one), which the probe core's fetch guard takes instead
    * of counting again. Self-pairs are excluded to match that guard.
    *
    * @return (pruned payload, distinct candidate count, layout)
    */
  def fetchCandidates(spark: SparkSession, kind: StoreKind, rawPath: String,
                      incoming: DataFrame,
                      flips: Int = 0): (DataFrame, Long, Layout) = {
    val path = resolveStoreDir(spark, rawPath)
    val l = layout(spark, kind, path)
    val payload = payloadTable(spark, kind, path)
    val none = payload.select(kind.columns: _*).limit(0)
    val keyCols = kind.keyCols.fieldNames.toSeq
    val incK = kind.keyRows(incoming, l.width, flips)
      .withColumnRenamed("id", "id_i")
    val probeBkts = incK
      .select(pmod(col(keyCols.last), lit(l.bandBuckets.toLong)).as("bkt"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val stats =
      if (probeBkts.isEmpty) Array.empty[Row]
      else broadcast(incK)
        .join(bandedTable(spark, kind, path)
          .where(col("bkt").isin(probeBkts: _*))
          .select(col("id").as("id_c") +: keyCols.map(col): _*),
          keyCols)
        .filter(col("id_i") =!= col("id_c"))
        .select(pmod(xxhash64(col("id_c")), lit(l.idBuckets.toLong)).as("idb"),
          col("id_c"))
        .groupBy(col("idb"))
        .agg(count_distinct(col("id_c")).as("n"))
        .collect() // ≤ idBuckets rows
    val candIdb = stats.map(_.getLong(0)).toSeq
    if (candIdb.isEmpty) (none, 0L, l)
    else (payload.where(col("idb").isin(candIdb: _*))
      .select(kind.columns: _*), stats.map(_.getLong(1)).sum, l)
  }

  // ------------------------------------------------ the DataFrame probe

  /** Candidate-count bound for the cross leg's verify-fetch BROADCAST in
    * [[deltaProbe]]: the candidate-id semi-reduction is the least-bytes
    * thing that can prune the streamed index, but a broadcast still
    * collects those ids to the driver — a template-hot STANDING bucket
    * can make the set corpus-scale, and 4M longs (~32 MB, well under the
    * driver's broadcast comfort zone) is where the probe falls back to a
    * shuffle-hash left-semi instead: a bounded id-side exchange plus one
    * per-batch index exchange — degraded, never a driver OOM.
    */
  private[graft] val MaxFetchBroadcastIds = 4L * 1000 * 1000

  /** A probe's input checks, on the DataFrame core and the small path
    * alike: the id column must not collide with an output column, flips
    * must be 0 or 1, and every frame must hold the kind's payload. */
  private def checkProbe(kind: StoreKind, idCol: String, flips: Int,
                         frames: (String, DataFrame)*): Unit = {
    require(idCol != "status" && idCol != "dup_of",
      s"idCol '$idCol' collides with an output column")
    require(flips == 0 || flips == 1,
      s"flips must be 0 (exact keys) or 1 (1-plane probes), got $flips")
    val cols = kind.payload.fieldNames.toSeq
    for ((name, f) <- frames)
      require(cols.forall(f.columns.contains),
        s"$name must hold (${cols.mkString(", ")}); got ${f.columns.mkString(", ")}")
  }

  /** The verify fetch of [[deltaProbe]]: the `fetched0` rows whose `id_c`
    * is among `candIds`, semi-reduced through a broadcast while the
    * distinct candidate count stays under `maxIds`, else through a
    * shuffle-hash left-semi. Without `knownCount` the candidate ids are
    * checkpointed and counted first (two sequential jobs); with it, the
    * broadcast build evaluates the candidate-scale banding join lazily
    * (the r17 shape, measured flat). */
  private def candidateFetch(fetched0: DataFrame, candIds: DataFrame,
                             knownCount: Option[Long],
                             maxIds: Long): DataFrame = {
    val (ids, n) = knownCount match {
      case Some(n) => (candIds, n)
      case None =>
        val c = candIds.localCheckpoint()
        (c, c.count())
    }
    if (n <= maxIds) fetched0.join(broadcast(ids), "id_c")
    else fetched0.join(ids.hint("shuffle_hash"), Seq("id_c"), "left_semi")
  }

  /** The DataFrame delta probe of either kind: classify every id of
    * `incomingIds` (one `idCol` column) against the standing `index` (a
    * `kind` payload frame), given the delta's own index rows
    * `incomingIndex`, at band `width`. Statuses (the q74 contract):
    *
    *   - `dup_of_corpus` — some standing row verifies with it (`dup_of`
    *     = the smallest such standing id);
    *   - `dup_in_batch` — no standing match, but a smaller-id delta row
    *     verifies with it (`dup_of` = the smallest such id);
    *   - `new` — neither, including ids without an index row.
    *
    * The CROSS leg joins the delta's probe keys (`kind.keyRows` at
    * `flips`) against the index's exact keys, self-pairs excluded,
    * fetches the candidates' verify columns and runs `kind.verify`; the
    * WITHIN-BATCH leg is `kind.batchPairs`, handed the same delta key
    * rows. Multi-band duplicate candidates ride the candidate stream into
    * the two `min()` keepers (map-side combined) instead of paying a
    * pre-verify distinct.
    *
    * The INDEX side only ever STREAMS — never shuffles, sorts, or
    * broadcasts. Every delta-derived frame is broadcast by contract
    * (delta ≪ index; a checkpointed index enters as a LogicalRDD whose
    * size estimate is garbage-small — measured: a 50k-doc index reporting
    * ~340 KB — so left to the static planner the INDEX got broadcast and
    * a ×100-grown index OOM'd the driver, round 17). The verify fetch is
    * a SEMI-reduction of candidate ids only (8 bytes a row) against the
    * streamed index, so the payload of non-candidates never leaves its
    * partitions: broadcast while the candidate count stays under
    * `maxFetchBroadcastIds`, else a shuffle-hash left-semi
    * ([[candidateFetch]]). Only the candidate ids are materialized for
    * that guard (or `knownCandCount`, the store fetch's count, stands
    * in): checkpointing the full candidate PAIR set measured 1.5× across
    * the delta/store family (round 19), where re-running the banding scan
    * lazily inside the verify subtree costs one narrow index pass. The
    * fetched payload then joins the pair stream via SHUFFLE_HASH, not a
    * broadcast: a template-hot band can make the candidate set
    * corpus-scale, and a payload broadcast there is a driver OOM cliff.
    * Excluding self-pairs is inert in normal operation (a standing index
    * and a delta share no ids) and load-bearing under `foreachBatch`
    * replay, where a batch re-probes a store already holding its rows
    * and must converge instead of self-matching.
    *
    * `hotBucketDrop` > 0 drops the standing buckets the delta probes
    * whose index occupancy exceeds it (a census over `kind.keyCols`,
    * only over the probed keys, so candidate-scale): one delta row in a
    * template-hot bucket otherwise makes the candidate set O(bucket).
    * Decisions are unchanged whenever no probed bucket exceeds the
    * bound. `hotBucketDrop` and `hotBucketCap` also reach
    * `kind.batchPairs` (the lexical leg's [[Dedup.candidatePairs]]
    * mitigations; the semantic leg ignores them).
    */
  private[graft] def deltaProbe(kind: StoreKind, index: DataFrame,
                                incomingIds: DataFrame, incomingIndex: DataFrame,
                                idCol: String, threshold: Double, width: Int,
                                flips: Int = 0, hotBucketDrop: Int = 0,
                                hotBucketCap: Int = Dedup.HotBucketCap,
                                maxFetchBroadcastIds: Long = MaxFetchBroadcastIds,
                                knownCandCount: Option[Long] = None): DataFrame = {
    checkProbe(kind, idCol, flips, "index" -> index, "incomingIndex" -> incomingIndex)
    kind.checkWidth(width)
    val keyCols = kind.keyCols.fieldNames.toSeq
    val keys = keyCols.map(col)
    val batchKeys = kind.keyRows(incomingIndex, width, flips)
    val incB = batchKeys.withColumnRenamed("id", "id_i")
    val corB0 = kind.keyRows(index, width, 0).withColumnRenamed("id", "id_c")
    val corB =
      if (hotBucketDrop <= 0) corB0
      else {
        val hot = corB0.join(broadcast(incB.select(keys: _*).distinct()), keyCols)
          .groupBy(keys: _*).agg(count(lit(1)).as("__n"))
          .filter(col("__n") > hotBucketDrop).select(keys: _*)
        corB0.join(broadcast(hot), keyCols, "left_anti")
      }
    val candPairs = broadcast(incB).join(corB, keyCols)
      .filter(col("id_i") =!= col("id_c"))
      .select("id_i", "id_c")
    def side(frame: DataFrame, s: String) = frame.select(col("id").as(s"id_$s") +:
      kind.verifyCols.map(c => col(c).as(s"${c}_$s")): _*)
    val fetched = candidateFetch(side(index, "c"),
      candPairs.select(col("id_c")).distinct(), knownCandCount, maxFetchBroadcastIds)
    val corpusMatch = kind.verify(candPairs
        .join(broadcast(side(incomingIndex, "i")), "id_i")
        .join(fetched.hint("shuffle_hash"), "id_c"), threshold)
      .groupBy(col("id_i")).agg(min(col("id_c")).as("__graft_ck"))
    val batchKeeper = kind.batchPairs(incomingIndex, batchKeys, threshold, width,
        flips, hotBucketDrop, hotBucketCap)
      .groupBy(col("id_b")).agg(min(col("id_a")).as("__graft_bk"))
    incomingIds.select(col(idCol))
      .join(corpusMatch.withColumnRenamed("id_i", idCol), Seq(idCol), "left")
      .join(batchKeeper.withColumnRenamed("id_b", idCol), Seq(idCol), "left")
      .select(col(idCol),
        when(col("__graft_ck").isNotNull, lit("dup_of_corpus"))
          .when(col("__graft_bk").isNotNull, lit("dup_in_batch"))
          .otherwise(lit("new")).as("status"),
        when(col("__graft_ck").isNotNull, col("__graft_ck"))
          .otherwise(col("__graft_bk")).as("dup_of"))
  }

  // ------------------------------------------------- small-delta path

  /** Row bound of the small-delta path, on a delta's id rows and on its
    * index rows alike, and of the local [[append]]: [[Dedup.HotBucketCap]],
    * so no band bucket of a delta within it can pass the within-batch
    * hot-bucket cap. */
  val MaxDeltaRows: Int = Dedup.HotBucketCap

  /** Candidate bound of the small-delta path: on the `(pair, band)` rows
    * its candidate scan returns, and on its distinct within-batch pairs.
    * Each pair costs the driver a few hundred bytes (its candidate row,
    * its entry in the pair set, its ids in a partner table, which holds
    * ids only), so the bound keeps that bookkeeping to tens of megabytes;
    * a delta with more candidates takes the shuffle path, where they cost
    * executor memory instead. */
  val MaxCandidatePairs: Int = 100 * 1000

  /** A store probe's result: the `decisions` `(idCol, status, dup_of)`
    * and, when the small-delta path ran, the incoming index rows it
    * classified `new` (`admitted`, the kind's payload columns) ready for
    * [[append]]; both are then local frames. */
  final case class Probe(decisions: DataFrame, admitted: Option[DataFrame])

  /** The store probe of a delta against the store at `rawPath`, and the
    * one place that picks its path: [[smallDeltaProbe]] when the caller's
    * hot-bucket settings cannot engage on a delta it accepts (no
    * `hotBucketDrop`, a `hotBucketCap` of at least [[MaxDeltaRows]]) and
    * the delta is within its bounds; otherwise [[prunedProbe]]. */
  private[graft] def probe(spark: SparkSession, kind: StoreKind, rawPath: String,
                           incomingIds: DataFrame, incomingIndex: DataFrame,
                           idCol: String, threshold: Double, flips: Int = 0,
                           hotBucketDrop: Int = 0,
                           hotBucketCap: Int = MaxDeltaRows): Probe =
    (if (hotBucketDrop != 0 || hotBucketCap < MaxDeltaRows) None
     else smallDeltaProbe(spark, kind, rawPath, incomingIds, incomingIndex,
       idCol, threshold, flips)).getOrElse(Probe(
      Harness.phase(spark, s"store-probe ${kind.name}: pruned")(
        prunedProbe(spark, kind, rawPath, incomingIds, incomingIndex, idCol,
          threshold, flips, hotBucketDrop, hotBucketCap)), None))

  /** The reference store probe, taken by any delta above the small
    * path's bounds and the one the small path is tested against:
    * [[fetchCandidates]] reads only the band-buckets the delta's probe
    * keys hash to and the candidates' id-buckets, and [[deltaProbe]] runs
    * over that pruned payload at the store's recorded width, its fetch
    * guard taking the fetch's candidate count. Decisions equal
    * [[deltaProbe]] over the store's full payload frame. */
  private[graft] def prunedProbe(spark: SparkSession, kind: StoreKind,
                                 rawPath: String, incomingIds: DataFrame,
                                 incomingIndex: DataFrame, idCol: String,
                                 threshold: Double, flips: Int = 0,
                                 hotBucketDrop: Int = 0,
                                 hotBucketCap: Int = Dedup.HotBucketCap): DataFrame = {
    checkProbe(kind, idCol, flips, "incomingIndex" -> incomingIndex)
    val (pruned, candCount, l) = fetchCandidates(spark, kind, rawPath,
      incomingIndex, flips)
    deltaProbe(kind, pruned, incomingIds, incomingIndex, idCol, threshold,
      l.width, flips, hotBucketDrop, hotBucketCap, knownCandCount = Some(candCount))
  }

  /** The store probe of a SMALL delta: [[prunedProbe]]'s decisions, in
    * three shuffle-free Spark jobs with all the bookkeeping on the
    * driver. Under AQE every exchange of the
    * DataFrame path is a job of its own, re-planned between stages, so
    * a 48-row delta there costs about a dozen jobs; here each job is a
    * scan (or a local relation) joined to a broadcast built on the
    * driver ([[BroadcastLookup]]) and collected, so each is one job:
    *
    *   1. `delta` — collect the delta's id rows, its index rows and
    *      their exact and probe band keys (the kind's `bandKeys`);
    *   2. `candidates` — scan only the probed `banded/` buckets, look
    *      each stored key up among the probe keys, and collect the
    *      `(id_i, id_c, idb)` candidates, self-pairs excluded;
    *   3. `verify` — scan only the candidate `payload/` id-buckets, look
    *      up the ids of each stored row's incoming partners and then each
    *      partner's payload, and verify every pair with the kind's
    *      `verify` (the reference path's own expressions); the
    *      within-batch pairs (from the collected keys, at `flips` = 1 the
    *      ≤1-flip rule) are verified in the same job.
    *
    * What this broadcasts is bounded by the delta, not by its pairs:
    * the probe keys and the partner tables carry ids only, and the
    * delta's verify columns travel once per index row (≤ [[MaxDeltaRows]]
    * rows, as the reference path's broadcast incoming side does), however
    * many candidates share a hot bucket.
    *
    * The `min()` keepers and the decisions are then built on the driver.
    * Decisions equal the reference path's ([[prunedProbe]]) row for row,
    * in the same schema.
    *
    * Returns None, having started at most jobs 1–2, when the delta holds
    * more than [[MaxDeltaRows]] id or index rows, the candidates pass
    * [[MaxCandidatePairs]], or an id column is not integral: [[probe]]
    * then takes the reference path. Each job carries a
    * `spark.job.description` `store-probe <kind>: <step>`.
    */
  private[graft] def smallDeltaProbe(spark: SparkSession, kind: StoreKind,
                                     rawPath: String, incomingIds: DataFrame,
                                     incomingIndex: DataFrame, idCol: String,
                                     threshold: Double,
                                     flips: Int = 0): Option[Probe] = {
    checkProbe(kind, idCol, flips, "incomingIndex" -> incomingIndex)
    val payloadCols = kind.payload.fieldNames.toSeq
    val idField = incomingIds.select(col(idCol)).schema.head
    val indexSchema = incomingIndex.select(payloadCols.map(col): _*).schema
    if (!integral(idField.dataType) || !integral(indexSchema("id").dataType))
      return None
    val path = resolveStoreDir(spark, rawPath)
    val l = layout(spark, kind, path)
    def phase[T](step: String)(f: => T): T =
      Harness.phase(spark, s"store-probe ${kind.name}: $step")(f)

    // 1. the delta: id rows (`__ids`) and index rows with their keys
    val keys = (f: Int) => kind.bandKeys(col("sig"), l.width, f)
    val delta = incomingIds.select(lit(true).as("__ids"), col(idCol).as("__id"))
      .unionByName(incomingIndex.select((lit(false).as("__ids") +:
          payloadCols.map(col)) ++ Seq(keys(0).as("__exact"),
          (if (flips == 0) col("__exact") else keys(flips)).as("__probe")): _*),
        allowMissingColumns = true)
    val at = delta.schema.fieldIndex _
    val rows = phase("delta")(collectBounded(delta, 2 * MaxDeltaRows))
      .getOrElse(return None)
    val (idRows, indexRows) = rows.partition(_.getBoolean(0))
    if (idRows.size > MaxDeltaRows || indexRows.size > MaxDeltaRows) return None
    final case class Delta(id: Long, row: Row) {
      private def keysAt(i: Int) = if (row.isNullAt(i)) Nil else row.getSeq[Row](i)
      def exact: Seq[Row] = keysAt(at("__exact"))
      def probe: Seq[Row] = keysAt(at("__probe"))
      def get(c: String): Any = row.get(at(c))
    }
    val index = indexRows.filterNot(_.isNullAt(at("id")))
      .map(r => Delta(asLong(r.get(at("id"))), r))

    // within-batch pairs (a < b): some exact key of one is a probe key
    // of the other
    val exactIds = mutable.HashMap.empty[Row, mutable.ArrayBuffer[Long]]
    for (d <- index; k <- d.exact)
      exactIds.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += d.id
    val within = mutable.HashSet.empty[(Long, Long)]
    val met = for (d <- index.iterator; k <- d.probe.iterator;
                   o <- exactIds.getOrElse(k, Nil).iterator if o != d.id)
      yield (math.min(o, d.id), math.max(o, d.id))
    while (met.hasNext && within.size <= MaxCandidatePairs) within += met.next()
    if (within.size > MaxCandidatePairs) return None

    // 2. candidates: probe key's hash → (other key columns…, id_i)
    val keyNames = kind.keyCols.fieldNames.toSeq
    val entryType = StructType(kind.keyCols.fields.init :+
      StructField("id_i", LongType, nullable = false))
    val probeTable = lookupTable(entryType, for (d <- index; k <- d.probe)
      yield k.getLong(k.length - 1) -> Row.fromSeq(k.toSeq.init :+ d.id))
    val candidates =
      if (probeTable.isEmpty) Seq.empty[Row]
      else withBroadcast(spark, probeTable) { bc =>
        val probed = probeTable.keySet.asScala
          .map(k => Math.floorMod(k.longValue, l.bandBuckets.toLong)).toSeq
        val hits = bandedTable(spark, kind, path)
          .where(col("bkt").isin(probed: _*))
          .select(col("id").as("id_c") +: keyNames.init.map(col) :+
            explode(BroadcastLookup(col(keyNames.last), bc, entryType)).as("p"): _*)
          .where(keyNames.init.map(k => col(k) === col(s"p.$k"))
            .foldLeft(col("p.id_i") =!= col("id_c"))(_ && _))
          .select(col("p.id_i"), col("id_c"),
            pmod(xxhash64(col("id_c")), lit(l.idBuckets.toLong)).as("idb"))
        phase("candidates")(collectBounded(hits, MaxCandidatePairs))
      }.getOrElse(return None)
    val cross = candidates.map(r => (r.getLong(0), r.getLong(1))).distinct

    // 3. verify both legs in one job: each standing-side row (`_c`) looks
    // up the ids of its incoming partners (`id_i`) — a stored row for the
    // cross pairs, the smaller batch id of a within-batch pair — and then
    // each partner's verify columns, by id, in one table of the delta's
    // own rows (the batch leg's standing side reads them there too)
    val vCols = kind.verifyCols
    val idType = StructType(Seq(StructField("id_i", LongType, nullable = false)))
    val rowType = StructType(vCols.map(indexSchema(_)))
    def partners(pairs: Iterable[(Long, Long)]) =
      lookupTable(idType, pairs.iterator.map { case (i, c) => c -> Row(i) }.toSeq)
    def lookup(key: String, bc: Broadcast[LookupTable], t: StructType) =
      explode(BroadcastLookup(col(key), bc, t)).as("__l")
    val verified =
      if (cross.isEmpty && within.isEmpty) Seq.empty[Row]
      else {
        val paired = cross.iterator.map(_._1).toSet ++
          within.iterator.flatMap { case (a, b) => Iterator(a, b) }
        val rowsById = lookupTable(rowType, index.filter(d => paired(d.id))
          .map(d => d.id -> Row.fromSeq(vCols.map(d.get))))
        withBroadcast(spark, rowsById) { rowsBc =>
        withBroadcast(spark, partners(cross)) { crossBc =>
        withBroadcast(spark, partners(within.map(_.swap))) { withinBc =>
          val cCols = ("id_c" +: vCols.map(c => s"${c}_c")).map(col)
          def legOf(leg: Int, side: DataFrame, bc: Broadcast[LookupTable]) =
            side.select(lit(leg).as("leg") +: cCols :+ lookup("id_c", bc, idType): _*)
              .select(col("leg") +: cCols :+ col("__l.id_i").as("id_i"): _*)
              .select(col("*"), lookup("id_i", rowsBc, rowType))
              .select((col("leg") +: cCols :+ col("id_i")) ++
                vCols.map(c => col(s"__l.$c").as(s"${c}_i")): _*)
          val stored = payloadTable(spark, kind, path)
            .where(col("idb").isin(candidates.map(_.getLong(2)).distinct: _*))
            .select(col("id").as("id_c") +: vCols.map(c => col(c).as(s"${c}_c")): _*)
          val batch = spark.createDataFrame(
              within.iterator.map(_._1).toSeq.distinct.map(Row(_)).asJava,
              StructType(Seq(StructField("id_c", LongType, nullable = false))))
            .select(col("id_c"), lookup("id_c", rowsBc, rowType))
            .select(col("id_c") +: vCols.map(c =>
              col(s"__l.$c").cast(kind.payload(c).dataType).as(s"${c}_c")): _*)
          val pairs =
            if (cross.isEmpty) legOf(1, batch, withinBc)
            else legOf(0, stored, crossBc).unionByName(legOf(1, batch, withinBc))
          // one row per pair of rows: bounded by the candidates
          phase("verify")(collectAll(kind.verify(pairs, threshold)
            .select("leg", "id_i", "id_c")))
        }
        }
        }
      }

    // the min() keepers and the decisions, on the driver
    val keepers = Seq(mutable.HashMap.empty[Long, Long], mutable.HashMap.empty[Long, Long])
    for (r <- verified) {
      val (m, i, c) = (keepers(r.getInt(0)), r.getLong(1), r.getLong(2))
      m(i) = m.get(i).fold(c)(math.min(_, c))
    }
    val Seq(corpusKeeper, batchKeeper) = keepers.toSeq
    val decided = idRows.map { r =>
      val v = r.get(at("__id"))
      val k = Option(v).map(asLong)
      k.flatMap(corpusKeeper.get).map(c => Row(v, "dup_of_corpus", c))
        .orElse(k.flatMap(batchKeeper.get).map(b => Row(v, "dup_in_batch", b)))
        .getOrElse(Row(v, "new", null))
    }
    val newIds = decided.collect { case Row(v, "new", _) if v != null => asLong(v) }.toSet
    Some(Probe(
      spark.createDataFrame(decided.asJava, StructType(Seq(
        idField,
        StructField("status", StringType, nullable = false),
        StructField("dup_of", LongType, nullable = true)))),
      Some(spark.createDataFrame(index.filter(d => newIds(d.id))
        .map(d => Row.fromSeq(payloadCols.map(d.get))).asJava, indexSchema))))
  }

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def asLong(v: Any): Long = v.asInstanceOf[Number].longValue

  private[graft] type LookupTable = java.util.Map[java.lang.Long, ArrayData]

  /** A [[BroadcastLookup]] table: each key's rows, in catalyst form. */
  private[graft] def lookupTable(rowType: StructType,
                                 entries: Iterable[(Long, Row)]): LookupTable = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(rowType)
    val table = new java.util.HashMap[java.lang.Long, ArrayData]()
    entries.groupBy(_._1).foreach { case (k, es) =>
      table.put(k, new GenericArrayData(es.map(e => toCatalyst(e._2)).toArray))
    }
    table
  }

  /** Run `f` over a broadcast of `table`, destroyed afterwards. */
  private def withBroadcast[T](spark: SparkSession, table: LookupTable)(
      f: Broadcast[LookupTable] => T): T = {
    val bc = spark.sparkContext.broadcast(table)
    try f(bc) finally bc.destroy()
  }

  /** `df`'s rows if it holds at most `max`, else None. A local frame
    * costs no Spark job; any other costs one (two when a partition holds
    * more than its share of `max`), and at most `max` rows ever reach the
    * driver: each task stops reading past `max` and returns its rows only
    * within its share. The job runs the frame's own optimized plan (no
    * re-planned deserializing query, no SQL execution event); rows are
    * converted on the driver. */
  private def collectBounded(df: DataFrame, max: Int): Option[Seq[Row]] = {
    val qe = df.queryExecution
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    def rows(internal: Iterable[InternalRow]) =
      Some(internal.map(r => toRow(r).asInstanceOf[Row]).toSeq)
    qe.optimizedPlan match {
      case r: LocalRelation => if (r.data.size <= max) rows(r.data) else None
      case _ =>
        val rdd = qe.toRdd
        val sc = rdd.sparkContext
        val share = math.max(1, max / math.max(1, rdd.getNumPartitions))
        val parts = sc.runJob(rdd, (it: Iterator[InternalRow]) => {
          val kept = mutable.ArrayBuffer.empty[InternalRow]
          var n = 0
          while (n <= max && it.hasNext) {
            val r = it.next()
            if (n < share) kept += r.copy()
            n += 1
          }
          (n, if (n <= share) kept.toArray else Array.empty[InternalRow])
        })
        if (parts.map(_._1.toLong).sum > max) None
        else {
          val over = parts.indices.filter(parts(_)._1 > share)
          val rest: Map[Int, Array[InternalRow]] = over.zip(
            if (over.isEmpty) Array.empty[Array[InternalRow]]
            else sc.runJob(rdd, (it: Iterator[InternalRow]) => it.map(_.copy()).toArray,
              over)).toMap
          rows(parts.indices.flatMap(i => rest.getOrElse(i, parts(i)._2).toSeq))
        }
    }
  }

  /** All of `df`'s rows in one Spark job over its own optimized plan
    * ([[collectBounded]] without the bound, for a frame whose size the
    * caller has already bounded). */
  private def collectAll(df: DataFrame): Seq[Row] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    val rdd = df.queryExecution.toRdd
    rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => it.map(_.copy()).toArray)
      .toSeq.flatten.map(r => toRow(r).asInstanceOf[Row])
  }

  private def keepSet(keepIds: DataFrame): DataFrame =
    keepIds.select(col(keepIds.columns.head).as("id")).distinct()
      .localCheckpoint()

  /** RETENTION maintenance: rewrite the store at `rawPath` to `outPath`
    * keeping only the ids in `keepIds` (one id column — typically a
    * dedup keep list or a recency cut), the kind's side table included.
    * The banded table is rebuilt from the surviving signatures, so
    * expired rows stop generating candidates; an append-only store
    * otherwise grows monotonically and its dropped rows keep paying
    * probe-side verify work. The old store stays probe-able until the
    * caller retires it (blue/green). */
  def compact(spark: SparkSession, kind: StoreKind, rawPath: String,
              outPath: String, keepIds: DataFrame): Unit = {
    val path = resolveStoreDir(spark, rawPath)
    val l = layout(spark, kind, path)
    val keeps = keepSet(keepIds)
    try rebuild(spark, kind, path, outPath, l, Some(keeps))
    finally keeps.unpersist()
  }

  /** Re-band / re-bucket the store at `rawPath` into `outPath` from its
    * STORED signatures — no text or embedding rescan; band width and
    * bucket counts both track corpus size. The side table is carried
    * along. Blue/green like [[compact]]. */
  def reband(spark: SparkSession, kind: StoreKind, rawPath: String,
             outPath: String, width: Int, bandBuckets: Int,
             idBuckets: Int): Unit =
    rebuild(spark, kind, resolveStoreDir(spark, rawPath), outPath,
      Layout(width, bandBuckets, idBuckets), keeps = None)

  /** Write the store directory `to` from the store directory `from`'s
    * payload, restricted to `keeps` and laid out at `l`, together with
    * the kind's side table when `from` has one (returned). The two touch
    * disjoint tables and run side by side. */
  private def rebuild(spark: SparkSession, kind: StoreKind, from: String,
                      to: String, l: Layout,
                      keeps: Option[DataFrame]): Option[SideTable] = {
    val base = read(spark, kind, from)
    val side = kind.side.filter(_.exists(spark, from))
    inParallel(
      writeStore(kind, keeps.fold(base)(k => base.join(k, "id")), to, l,
        bandedFromInput = true),
      side.foreach(_.rebuild(spark, from, to, keeps)))
    side
  }

  // ---------------------------------------------------- managed roots

  private val storeLocks = new ConcurrentHashMap[String, Object]()

  /** Serialize store appends against a concurrent pointer swap: the
    * incremental step holds this for its probe+append, maintenance for
    * its catch-up+swap. No-op cost for unmanaged stores. */
  def withStoreLock[T](root: String)(f: => T): T =
    storeLocks.computeIfAbsent(root, _ => new Object).synchronized(f)

  private def hadoopFs(spark: SparkSession, p: String) = {
    val hp = new Path(p)
    (hp, hp.getFileSystem(spark.sessionState.newHadoopConf()))
  }

  /** The active store directory of `path`: `$path/versions/<CURRENT>`
    * for a managed root, `path` itself otherwise. */
  def resolveStoreDir(spark: SparkSession, path: String): String =
    readStorePointer(spark, path).fold(path)(v => s"$path/versions/$v")

  private def readStorePointer(spark: SparkSession,
                               root: String): Option[String] = {
    val (cur, fs) = hadoopFs(spark, s"$root/CURRENT")
    if (!fs.exists(cur)) None
    else {
      val in = fs.open(cur)
      try Some(new String(in.readAllBytes(), UTF_8).trim) finally in.close()
    }
  }

  /** Write `text` to `$path.tmp` and rename it over `path` — atomic on
    * HDFS and POSIX filesystems. */
  private def replaceFile(spark: SparkSession, path: String,
                          text: String): Unit = {
    val (tmp, fs) = hadoopFs(spark, s"$path.tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    FileContext.getFileContext(fs.getUri, spark.sessionState.newHadoopConf())
      .rename(tmp, new Path(path), Options.Rename.OVERWRITE)
  }

  private def nextVersion(current: String): String = {
    require(current.matches("v\\d{5}"), s"unrecognized store version '$current'")
    f"v${current.drop(1).toInt + 1}%05d"
  }

  /** Create a managed store root: version `v00001` plus the pointer. */
  def initManaged(spark: SparkSession, kind: StoreKind, root: String,
                  frame: DataFrame, width: Int, bandBuckets: Int = 256,
                  idBuckets: Int = 256): Unit = {
    require(readStorePointer(spark, root).isEmpty,
      s"managed store already exists at $root")
    write(kind, frame, s"$root/versions/v00001", width, bandBuckets, idBuckets)
    replaceFile(spark, s"$root/CURRENT", "v00001")
  }

  /** Live RETENTION maintenance of a managed root (see
    * [[maintainManaged]]). Returns the retired version's directory. */
  def compactManaged(spark: SparkSession, kind: StoreKind, root: String,
                     keepIds: DataFrame): String =
    maintainManaged(spark, kind, root, keep = Some(keepIds), reband = None)

  /** Live width/bucket maintenance of a managed root (no retention cut:
    * the catch-up is a plain blue-minus-green append). */
  def rebandManaged(spark: SparkSession, kind: StoreKind, root: String,
                    width: Int, bandBuckets: Int, idBuckets: Int): String =
    maintainManaged(spark, kind, root, keep = None,
      reband = Some(Layout(width, bandBuckets, idBuckets)))

  /** Maintenance of a managed root, safe under a live appender: build
    * the GREEN version from the current (BLUE) one's payload — restricted
    * to `keep`, re-laid out to `reband` — together with the kind's side
    * table, outside any lock (blue keeps serving); then under the store
    * lock append the rows that arrived in blue during the build and swap
    * the pointer. With a retention cut, the catch-up is blue ∖
    * green MINUS the ids the cut dropped on purpose; a snapshot of blue's
    * ids taken before the build tells the two apart (id-sized frames
    * throughout). A pure reband drops nothing, so it takes no snapshot.
    * Returns the retired version's directory (the caller deletes it once
    * no reader can still hold it).
    *
    * `afterBuild` is a TEST SEAM: invoked between the green build and
    * the locked catch-up+swap, where a live stream's append would race
    * or a crash would strike.
    */
  private[graft] def maintainManaged(spark: SparkSession, kind: StoreKind,
                                     root: String, keep: Option[DataFrame],
                                     reband: Option[Layout],
                                     afterBuild: () => Unit = () => ()): String = {
    val curV = readStorePointer(spark, root).getOrElse(
      throw new IllegalArgumentException(s"$root is not a managed store"))
    val blue = s"$root/versions/$curV"
    val newV = nextVersion(curV)
    val green = s"$root/versions/$newV"
    def phase[T](step: String)(f: => T): T =
      Harness.phase(spark, s"store-maintain ${kind.name}: $step")(f)
    val l = reband.getOrElse(layout(spark, kind, blue))
    val keeps = phase("build")(keep.map(keepSet))
    val snapshot = phase("build")(keep.map(_ =>
      payloadTable(spark, kind, blue).select("id").localCheckpoint()))
    try {
      val side = phase("build")(rebuild(spark, kind, blue, green, l, keeps))
      // lazy: both inputs are checkpointed id frames, so the anti-join
      // re-derives cheaply inside each catch-up plan
      val dropped = keeps.map(k => snapshot.get.join(k, Seq("id"), "left_anti"))
      afterBuild()
      withStoreLock(root)(phase("catch-up") {
        inParallel(
          {
            val lateIds = payloadTable(spark, kind, blue).select("id")
              .join(payloadTable(spark, kind, green).select("id"),
                Seq("id"), "left_anti")
            val catchUp = dropped.fold(lateIds)(d =>
              lateIds.join(d, Seq("id"), "left_anti")).localCheckpoint()
            // a fresh read: `base` listed blue's files before the build
            if (catchUp.count() > 0)
              append(spark, kind, green, read(spark, kind, blue).join(catchUp, "id"))
          },
          side.foreach(_.catchUp(spark, blue, green, dropped)))
        replaceFile(spark, s"$root/CURRENT", newV)
      })
    } finally {
      keeps.foreach(_.unpersist()); snapshot.foreach(_.unpersist())
    }
    blue
  }

  // ------------------------------------------------------ concurrency

  private val parallelCalls = new AtomicLong()

  /** Run two independent Spark actions side by side ([[inParallel]] over
    * two legs). */
  private[graft] def inParallel(a: => Unit, b: => Unit): Unit =
    inParallel(Seq(() => a, () => b))

  /** Run independent Spark actions side by side and return their results
    * in leg order (overlap independent jobs: their driver-side planning
    * and commit overlap, and one job's tasks back-fill the slots another's
    * tail leaves idle). The first leg runs on the calling thread, every
    * other leg on a fresh daemon thread, which inherits the caller's
    * Spark local properties (job group, description, scheduler pool, job
    * tags). No shared pool is involved, so nested calls (maintain → write
    * → inParallel) cannot starve one. Each leg tags its jobs; the first
    * failure cancels every other leg's active jobs, all legs settle, and
    * that first failure is rethrown (a later one rides along as
    * suppressed). So no write is left running past the call.
    */
  private[graft] def inParallel[T](legs: Seq[() => T]): Seq[T] = {
    val sc = SparkSession.active.sparkContext
    val tag = s"graft-parallel-${parallelCalls.incrementAndGet()}"
    val first = new AtomicReference[Throwable]()
    val results = new AtomicReferenceArray[Any](legs.size)
    def leg(i: Int): Unit = {
      sc.addJobTag(s"$tag-$i")
      try results.set(i, legs(i)())
      catch { case t: Throwable =>
        if (first.compareAndSet(null, t))
          legs.indices.filter(_ != i).foreach(j => sc.cancelJobsWithTag(s"$tag-$j"))
        else if (first.get ne t) first.get.addSuppressed(t)
      } finally sc.removeJobTag(s"$tag-$i")
    }
    // created before leg 0 tags this thread: the others inherit the
    // caller's properties as they are, without leg 0's tag
    val threads = legs.indices.drop(1).map { i =>
      val t = new Thread(() => leg(i), s"$tag-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    if (legs.nonEmpty) leg(0)
    threads.foreach(_.join())
    Option(first.get).foreach(t => throw t)
    legs.indices.map(i => results.get(i).asInstanceOf[T])
  }
}
