package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference, AtomicReferenceArray}

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

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
  * needs no rescan because signatures are stored).
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
    * @param payload   the stored frame's columns (`id` first, `sig` among them)
    * @param widthKey  the band width's key in `meta`
    * @param widthRule the width's validity test and its description
    * @param bandKeys  `(id, sig)` frame × width × flips →
    *                  `(id, keyCols…)`; stored rows band at flips = 0,
    *                  a probe's flips widen its key set
    * @param keyCols   the band-key join columns; the LAST one is the
    *                  hash the `bkt` partition is taken from
    * @param side      a side table maintenance carries along
    */
  final case class StoreKind(payload: Seq[String], widthKey: String,
                             widthRule: (Int => Boolean, String),
                             bandKeys: (DataFrame, Int, Int) => DataFrame,
                             keyCols: Seq[String],
                             side: Option[SideTable] = None) {
    def checkLayout(l: Layout): Unit = {
      require(widthRule._1(l.width),
        s"$widthKey must be ${widthRule._2}, got ${l.width}")
      require(l.bandBuckets >= 1 && l.idBuckets >= 1,
        s"bucket counts must be positive, got ${l.bandBuckets}/${l.idBuckets}")
    }
    private[IndexStore] def metaKeys = Seq(widthKey, "band_buckets", "id_buckets")
  }

  val Lexical: StoreKind = StoreKind(Seq("id", "sh", "hs", "sig"), "bands",
    (w => w >= 1 && 64 % w == 0, "a divisor of the 64-hash signature"),
    (f, w, _) => Dedup.bandKeyRows(f, w), Seq("band", "bh"),
    Some(Dedup.FingerprintSide))

  val Semantic: StoreKind = StoreKind(Seq("id", "e_d", "sig", "n"),
    "rows_per_band",
    (w => w >= 1 && w <= Similarity.MaxRowsPerBand,
      s"in [1, ${Similarity.MaxRowsPerBand}]"),
    (f, w, flips) =>
      if (flips >= 1) Similarity.packedBandProbeKeys(f, w)
      else Similarity.packedBandKeys(f, w),
    Seq("key"))

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

  private def payloadRows(kind: StoreKind, rows: DataFrame,
                          l: Layout): DataFrame =
    rows.select(kind.payload.map(col) :+
      pmod(xxhash64(col("id")), lit(l.idBuckets.toLong)).as("idb"): _*)

  private def bandedRows(kind: StoreKind, rows: DataFrame,
                         l: Layout): DataFrame =
    kind.bandKeys(rows, l.width, 0).withColumn("bkt",
      pmod(col(kind.keyCols.last), lit(l.bandBuckets.toLong)))

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
    require(kind.payload.forall(frame.columns.contains),
      s"frame must hold (${kind.payload.mkString(", ")}); got " +
        frame.columns.mkString(", "))
    val spark = frame.sparkSession
    writeMeta(spark, s"$path/meta", kind.widthKey -> l.width,
      "band_buckets" -> l.bandBuckets, "id_buckets" -> l.idBuckets)
    def banded(src: DataFrame): Unit =
      land(bandedRows(kind, src, l), "bkt", "overwrite", s"$path/banded")
    if (bandedFromInput) {
      // maintenance rewrites: the frame is itself a cheap materialized
      // read (a payload scan, at most joined against a checkpointed keep
      // set), so banded/ derives from it directly and the two writes run
      // side by side — a read-back would serialize write → read → write
      inParallel(land(payloadRows(kind, frame, l), "idb", "overwrite",
        s"$path/payload"), banded(frame.select("id", "sig")))
    } else {
      // ONE pass over the caller's plan (at corpus scale a full text or
      // embedding pass): the payload write counts its rows via observe()
      // and banded/ derives from the just-written payload's (id, sig)
      // columns. A partitioned write of zero rows leaves no file to
      // infer a schema from, so an empty store bands the empty input.
      val obs = Observation()
      land(payloadRows(kind, frame, l).observe(obs, count(lit(1)).as("n_rows")),
        "idb", "overwrite", s"$path/payload")
      banded(
        if (obs.get("n_rows").asInstanceOf[Long] == 0L)
          frame.select(col("id"), col("sig")).limit(0)
        else spark.read.parquet(s"$path/payload").select("id", "sig"))
    }
  }

  /** The payload frame of the store at `rawPath` (pointer-resolved). */
  def read(spark: SparkSession, kind: StoreKind, rawPath: String): DataFrame =
    spark.read.parquet(s"${resolveStoreDir(spark, rawPath)}/payload")
      .select(kind.payload.map(col): _*)

  /** Append-only maintenance: admitted rows (already computed for the
    * probe — the shared-frame shape) land in both tables under the
    * store's recorded layout. The two writes are independent jobs and
    * run side by side; callers pass a materialized frame, so no lineage
    * is computed twice. */
  def append(spark: SparkSession, kind: StoreKind, rawPath: String,
             newRows: DataFrame): Unit = {
    val path = resolveStoreDir(spark, rawPath)
    val l = layout(spark, kind, path)
    inParallel(
      land(payloadRows(kind, newRows, l), "idb", "append", s"$path/payload"),
      land(bandedRows(kind, newRows, l), "bkt", "append", s"$path/banded"))
  }

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
                       newRows: DataFrame): Unit = {
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
    val bandedId = "id" +: kind.keyCols
    if (idbs.nonEmpty) inParallel(
      land(payload.join(spark.read.parquet(s"$path/payload")
          .where(col("idb").isin(idbs: _*)).select("id"), Seq("id"), "left_anti"),
        "idb", "append", s"$path/payload"),
      land(banded.join(spark.read.parquet(s"$path/banded")
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
    val payload = spark.read.parquet(s"$path/payload")
    val none = payload.select(kind.payload.map(col): _*).limit(0)
    val incK = kind.bandKeys(incoming, l.width, flips)
      .withColumnRenamed("id", "id_i")
    val probeBkts = incK
      .select(pmod(col(kind.keyCols.last), lit(l.bandBuckets.toLong)).as("bkt"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val stats =
      if (probeBkts.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else broadcast(incK)
        .join(spark.read.parquet(s"$path/banded")
          .where(col("bkt").isin(probeBkts: _*))
          .select(col("id").as("id_c") +: kind.keyCols.map(col): _*),
          kind.keyCols)
        .filter(col("id_i") =!= col("id_c"))
        .select(pmod(xxhash64(col("id_c")), lit(l.idBuckets.toLong)).as("idb"),
          col("id_c"))
        .groupBy(col("idb"))
        .agg(count_distinct(col("id_c")).as("n"))
        .collect() // ≤ idBuckets rows
    val candIdb = stats.map(_.getLong(0)).toSeq
    if (candIdb.isEmpty) (none, 0L, l)
    else (payload.where(col("idb").isin(candIdb: _*))
      .select(kind.payload.map(col): _*), stats.map(_.getLong(1)).sum, l)
  }

  private def keepSet(keepIds: DataFrame): DataFrame =
    keepIds.select(col(keepIds.columns.head).as("id")).distinct()
      .localCheckpoint()

  /** RETENTION maintenance: rewrite the store at `rawPath` to `outPath`
    * keeping only the ids in `keepIds` (one id column — typically a
    * dedup keep list or a recency cut). The banded table is rebuilt from
    * the surviving signatures, so expired rows stop generating
    * candidates; an append-only store otherwise grows monotonically and
    * its dropped rows keep paying probe-side verify work. The old store
    * stays probe-able until the caller retires it (blue/green). */
  def compact(spark: SparkSession, kind: StoreKind, rawPath: String,
              outPath: String, keepIds: DataFrame): Unit = {
    val path = resolveStoreDir(spark, rawPath)
    val l = layout(spark, kind, path)
    val keeps = keepSet(keepIds)
    try writeStore(kind, read(spark, kind, path).join(keeps, "id"), outPath, l,
      bandedFromInput = true)
    finally keeps.unpersist()
  }

  /** Re-band / re-bucket the store at `rawPath` into `outPath` from its
    * STORED signatures — no text or embedding rescan; band width and
    * bucket counts both track corpus size. Blue/green like [[compact]]. */
  def reband(spark: SparkSession, kind: StoreKind, rawPath: String,
             outPath: String, width: Int, bandBuckets: Int,
             idBuckets: Int): Unit =
    writeStore(kind, read(spark, kind, rawPath), outPath,
      Layout(width, bandBuckets, idBuckets), bandedFromInput = true)

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
    val l = reband.getOrElse(layout(spark, kind, blue))
    val keeps = keep.map(keepSet)
    val snapshot = keep.map(_ =>
      spark.read.parquet(s"$blue/payload").select("id").localCheckpoint())
    try {
      val base = read(spark, kind, blue)
      val side = kind.side.filter(_.exists(spark, blue))
      // green's payload/banded build and its side table touch disjoint
      // tables — side by side
      inParallel(
        writeStore(kind, keeps.fold(base)(k => base.join(k, "id")), green, l,
          bandedFromInput = true),
        side.foreach(_.rebuild(spark, blue, green, keeps)))
      // lazy: both inputs are checkpointed id frames, so the anti-join
      // re-derives cheaply inside each catch-up plan
      val dropped = keeps.map(k => snapshot.get.join(k, Seq("id"), "left_anti"))
      afterBuild()
      withStoreLock(root) {
        inParallel(
          {
            val lateIds = spark.read.parquet(s"$blue/payload").select("id")
              .join(spark.read.parquet(s"$green/payload").select("id"),
                Seq("id"), "left_anti")
            val catchUp = dropped.fold(lateIds)(d =>
              lateIds.join(d, Seq("id"), "left_anti")).localCheckpoint()
            // a fresh read: `base` listed blue's files before the build
            if (catchUp.count() > 0)
              append(spark, kind, green, read(spark, kind, blue).join(catchUp, "id"))
          },
          side.foreach(_.catchUp(spark, blue, green, dropped)))
        replaceFile(spark, s"$root/CURRENT", newV)
      }
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
