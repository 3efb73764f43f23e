package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}

import graft.operators.{Dedup, IndexStore, Similarity}
import graft.operators.IndexStore.StoreKind

/** The shared store lifecycle ([[IndexStore]]): atomic, validated meta;
  * failure-first cancellation in [[IndexStore.inParallel]], over two legs
  * and over the table writes of `CurationJob.writeTables`; and a crash
  * between a managed root's green build and its pointer swap, run over
  * both store kinds with one test body.
  */
class IndexStoreSpec extends SparkSpec {
  private lazy val sess = spark
  import sess.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def lexIndex(pick: Column): DataFrame =
    Dedup.nearDupIndex(graft.sources.Tables.documents(spark, sf).filter(pick),
      "doc_id", "text", n = 3).localCheckpoint()

  // ---------------------------------------------------------------- meta

  test("a store rewrites in place over a legacy parquet meta/ directory") {
    val idx = lexIndex($"doc_id" % 5 < 3)
    val path = tmp("graft_store_legacy")
    IndexStore.write(IndexStore.Lexical, idx, path, width = 32,
      bandBuckets = 16, idBuckets = 16)
    // replace the key=value file with the legacy one-row parquet table
    Files.delete(Paths.get(s"$path/meta"))
    Seq((16, 8, 8)).toDF("bands", "band_buckets", "id_buckets")
      .write.parquet(s"$path/meta")
    assert(IndexStore.layout(spark, IndexStore.Lexical, path) ==
      IndexStore.Layout(16, 8, 8))
    IndexStore.write(IndexStore.Lexical, idx, path, width = 8,
      bandBuckets = 4, idBuckets = 4)
    assert(Files.isRegularFile(Paths.get(s"$path/meta")))
    assert(IndexStore.layout(spark, IndexStore.Lexical, path) ==
      IndexStore.Layout(8, 4, 4))
    assert(IndexStore.read(spark, IndexStore.Lexical, path).count() ==
      idx.count())
  }

  test("a truncated, empty or non-integer meta fails naming its path") {
    val idx = lexIndex($"doc_id" % 5 < 3)
    val path = tmp("graft_store_badmeta")
    IndexStore.write(IndexStore.Lexical, idx, path, width = 32,
      bandBuckets = 16, idBuckets = 16)
    val meta = Paths.get(s"$path/meta")
    val full = new String(Files.readAllBytes(meta), UTF_8)
    for (bad <- Seq(full.take(full.indexOf("id_buckets") + 3), "",
                    full.replace("band_buckets=16", "band_buckets=x"))) {
      // written around the filesystem client: drop its checksum sidecar
      Files.write(meta, bad.getBytes(UTF_8))
      Files.deleteIfExists(Paths.get(s"$path/.meta.crc"))
      val e = intercept[IllegalStateException](
        IndexStore.layout(spark, IndexStore.Lexical, path))
      assert(e.getMessage.contains(s"$path/meta"), e.getMessage)
    }
  }

  // --------------------------------------------------------- inParallel

  /** The jobs of `tagged` still active after up to 10 s of settling. */
  private def activeAfterSettling(tagged: ConcurrentLinkedQueue[Integer]): Set[Int] = {
    val deadline = System.nanoTime() + 10e9.toLong
    def stillActive = spark.sparkContext.statusTracker.getActiveJobIds().toSet
      .intersect(tagged.asScala.map(_.intValue).toSet)
    while (stillActive.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    stillActive
  }

  test("inParallel: the first failure cancels the other leg's job and is rethrown") {
    val sc = spark.sparkContext
    val tagged = new ConcurrentLinkedQueue[Integer]()
    val started = new java.util.concurrent.atomic.AtomicReference[CountDownLatch]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.contains("graft-parallel"))) {
          tagged.add(e.jobId); started.get.countDown()
        }
    }
    // four tasks that would each run 60 s unless their job is cancelled
    def longJob(): Unit = sc.parallelize(1 to 4, 4).foreach { _ =>
      val tc = TaskContext.get()
      var i = 0
      while (i < 600 && !tc.isInterrupted()) { Thread.sleep(100); i += 1 }
    }
    def failAfterStart(): Unit = {
      assert(started.get.await(30, TimeUnit.SECONDS), "long job never started")
      throw new IllegalStateException("leg failed")
    }
    sc.addSparkListener(listener)
    try {
      for ((a, b) <- Seq[(() => Unit, () => Unit)](
             (() => longJob(), () => failAfterStart()),
             (() => failAfterStart(), () => longJob()))) {
        started.set(new CountDownLatch(1))
        tagged.clear()
        val t0 = System.nanoTime()
        val e = intercept[IllegalStateException](IndexStore.inParallel(a(), b()))
        val sec = (System.nanoTime() - t0) / 1e9
        assert(e.getMessage == "leg failed")
        assert(sec < 30, f"returned after $sec%.1f s")
        val active = activeAfterSettling(tagged)
        assert(tagged.size > 0 && active.isEmpty, s"tagged jobs still active: $active")
      }
    } finally sc.removeSparkListener(listener)
  }

  test("CurationJob.writeTables: a failing write returns promptly and leaves no tagged job active") {
    import org.apache.spark.sql.functions.{col, udf}
    val sc = spark.sparkContext
    val tagged = new ConcurrentLinkedQueue[Integer]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.contains("graft-parallel"))) {
          tagged.add(e.jobId); IndexStoreSpec.writesStarted.countDown()
        }
    }
    // one task each, so the three side-by-side writes fit the 4 slots:
    // two run 60 s unless cancelled, one fails once all three started
    val slow = udf { (x: Long) =>
      val tc = TaskContext.get()
      var i = 0
      while (i < 600 && !tc.isInterrupted()) { Thread.sleep(100); i += 1 }
      x
    }
    val failing = udf { (x: Long) =>
      IndexStoreSpec.writesStarted.await(30, TimeUnit.SECONDS)
      if (x >= 0) throw new IllegalStateException("write failed")
      x
    }
    def one(f: org.apache.spark.sql.expressions.UserDefinedFunction) =
      spark.range(0, 1, 1, 1).select(f(col("id")).as("id"))
    IndexStoreSpec.writesStarted = new CountDownLatch(3)
    sc.addSparkListener(listener)
    try {
      val out = tmp("graft_curation_writes")
      val t0 = System.nanoTime()
      val e = intercept[Exception](graft.pipelines.CurationJob.writeTables(out,
        Seq("first" -> spark.range(3).toDF("id"), "slow_a" -> one(slow),
            "bad" -> one(failing), "slow_b" -> one(slow))))
      val sec = (System.nanoTime() - t0) / 1e9
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("write failed"))), e)
      assert(sec < 30, f"returned after $sec%.1f s")
      val active = activeAfterSettling(tagged)
      assert(tagged.size >= 3 && active.isEmpty, s"tagged jobs still active: $active")
      assert(spark.read.parquet(s"$out/first").count() == 3)
    } finally sc.removeSparkListener(listener)
  }

  // ----------------------------------------------- crash-point recovery

  /** One store kind's fixture: its standing frame, a probe batch, the
    * width it is built at, and its probe (decisions, canonicalized). */
  private case class Fixture(name: String, kind: StoreKind, width: Int,
                             standing: DataFrame,
                             probe: String => Seq[(Long, String, Long)])

  private def canon(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq

  private def fixtures: Seq[Fixture] = {
    val lexBatch = graft.sources.Tables.documents(spark, sf)
      .filter($"doc_id" % 5 === 4)
    val lexBatchIdx = lexIndex($"doc_id" % 5 === 4)
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .filter($"embedding".isNotNull)
    val semBatch = emb.filter($"vec_id" % 5 === 4)
    val semBatchIdx = Similarity.signatureFrame(semBatch, "vec_id", "embedding")
      .localCheckpoint()
    Seq(
      Fixture("lexical", IndexStore.Lexical, 32, lexIndex($"doc_id" % 5 < 4),
        root => canon(Dedup.deltaNearDupFromStore(spark, root,
          lexBatch.select("doc_id"), lexBatchIdx, "doc_id", threshold = 0.6))),
      Fixture("semantic", IndexStore.Semantic, 8,
        Similarity.signatureFrame(emb.filter($"vec_id" % 5 < 4), "vec_id",
          "embedding").localCheckpoint(),
        root => canon(Similarity.deltaSemNearDupFromStore(spark, root,
          semBatch.select("vec_id"), semBatchIdx, "vec_id", threshold = 0.4))))
  }

  test("managed maintenance: a crash after the green build leaves blue serving; a rerun converges") {
    for (f <- fixtures) {
      val keep = f.standing.select($"id").filter($"id" % 2 === 0)
        .localCheckpoint()
      def init(prefix: String): String = {
        val root = tmp(prefix)
        IndexStore.initManaged(spark, f.kind, root, f.standing, f.width,
          bandBuckets = 16, idBuckets = 16)
        root
      }
      def ids(root: String): Set[Long] =
        IndexStore.read(spark, f.kind, root).select("id").as[Long].collect().toSet
      def pointer(root: String): String =
        new String(Files.readAllBytes(Paths.get(s"$root/CURRENT")), UTF_8).trim
      val crashed = init(s"graft_crash_${f.name}")
      val blueDecisions = f.probe(crashed)
      assert(blueDecisions.nonEmpty)
      val e = intercept[IllegalStateException](
        IndexStore.maintainManaged(spark, f.kind, crashed, Some(keep), None,
          afterBuild = () => throw new IllegalStateException("crash")))
      assert(e.getMessage == "crash")
      assert(pointer(crashed) == "v00001", f.name)
      assert(f.probe(crashed) == blueDecisions, f.name)
      // the rerun overwrites the half-published green and converges to
      // the result of a maintenance that never crashed
      IndexStore.maintainManaged(spark, f.kind, crashed, Some(keep), None)
      val clean = init(s"graft_clean_${f.name}")
      IndexStore.maintainManaged(spark, f.kind, clean, Some(keep), None)
      assert(pointer(crashed) == "v00002" && pointer(clean) == "v00002")
      assert(ids(crashed) == ids(clean), f.name)
      assert(ids(crashed) == keep.as[Long].collect().toSet, f.name)
      assert(f.probe(crashed) == f.probe(clean), f.name)
    }
  }

  // ------------------------------------------------------------ tooling

  test("src/main holds no one-shot round-numbered or scratch mains") {
    val root = Paths.get("src/main/scala/graft")
    val w = Files.walk(root)
    val offenders = try w.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.matches("Round\\d+.*") || n.contains("Scratch")).toList
      finally w.close()
    assert(Files.isDirectory(root) && offenders.isEmpty,
      s"one-shot mains belong in PROBES_r*.json, not src/main: $offenders")
  }
}

object IndexStoreSpec {
  /** Counts the tagged write jobs started; a task of the failing write
    * waits on it (tasks run in this JVM under `local[4]`). */
  @volatile var writesStarted = new CountDownLatch(0)
}
