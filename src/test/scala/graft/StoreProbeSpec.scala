package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, IndexStore, Similarity}
import graft.pipelines.CurationJob

/** The small-delta store probe ([[IndexStore.smallDeltaProbe]]) against
  * the pruned DataFrame path it stands in for: identical decisions and
  * schema on the `PipelineOpSpec` and `PipelineJobSpec` store fixtures,
  * both kinds, the semantic kind at flips 0 and 1, and the edge deltas;
  * the fallback above the row bound; and the jobs a probe plus append
  * start.
  */
class StoreProbeSpec extends SparkSpec {
  private lazy val sess = spark
  import sess.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def docs = graft.sources.Tables.documents(spark, sf)
  private def emb = graft.sources.Tables.embeddings(spark, sf)
    .filter($"embedding".isNotNull)

  private def lexIndex(df: DataFrame) =
    Dedup.nearDupIndex(df, "doc_id", "text", n = 3).localCheckpoint()
  private def semIndex(df: DataFrame) =
    Similarity.signatureFrame(df, "vec_id", "embedding").localCheckpoint()

  private def store(kind: IndexStore.StoreKind, frame: DataFrame,
                    width: Int): String = {
    val p = tmp(s"graft_probe_${kind.name}")
    IndexStore.write(kind, frame, p, width, bandBuckets = 16, idBuckets = 16)
    p
  }

  /** One probe of `ids`/`idx` on both paths: the small-delta decisions
    * must equal the pruned reference's, schema and nullability included. */
  private def assertSamePaths(kind: IndexStore.StoreKind, path: String,
                              ids: DataFrame, idx: DataFrame, idCol: String,
                              threshold: Double, flips: Int = 0): Seq[String] = {
    val small = IndexStore.smallDeltaProbe(spark, kind, path, ids, idx, idCol,
      threshold, flips).getOrElse(fail(s"${kind.name}: the small path declined"))
    val reference =
      if (kind == IndexStore.Lexical)
        Dedup.deltaNearDupFromStorePruned(spark, path, ids, idx, idCol, threshold)
      else
        Similarity.deltaSemNearDupFromStorePruned(spark, path, ids, idx, idCol,
          threshold, flips)
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(small.decisions.schema == reference.schema, kind.name)
    val got = rows(small.decisions)
    assert(got == rows(reference), s"${kind.name} flips=$flips")
    got
  }

  test("lexical small-delta probe ≡ the pruned path on the PipelineOpSpec fixture, before and after an append") {
    val corpus = docs.filter($"doc_id" % 5 < 3)
    val batchA = docs.filter($"doc_id" % 5 === 3)
    val batchB = docs.filter($"doc_id" % 5 === 4)
    val (idxA, idxB) = (lexIndex(batchA), lexIndex(batchB))
    val path = store(IndexStore.Lexical, lexIndex(corpus), 32)
    val gotA = assertSamePaths(IndexStore.Lexical, path, batchA.select("doc_id"),
      idxA, "doc_id", 0.6)
    assert(gotA.exists(_.contains("dup_of_corpus")), gotA)
    val admitted = IndexStore.smallDeltaProbe(spark, IndexStore.Lexical, path,
      batchA.select("doc_id"), idxA, "doc_id", 0.6).get.admitted.get
    IndexStore.append(spark, IndexStore.Lexical, path, admitted)
    assertSamePaths(IndexStore.Lexical, path, batchB.select("doc_id"), idxB,
      "doc_id", 0.6)
  }

  test("lexical small-delta probe ≡ the pruned path on the PipelineJobSpec incrementalStep fixture") {
    val bench = docs.filter($"doc_id" < 25L)
    val nonBench = docs.filter($"doc_id" >= 25L)
    val path = store(IndexStore.Lexical, lexIndex(nonBench.filter($"doc_id" % 5 < 3)), 32)
    val kept = Curation.curationPass(nonBench.filter($"doc_id" % 5 === 3)
        .select("doc_id", "text"), bench, "doc_id", "text", CurationJob.DefaultRules)
      .filter($"keep" === 1L)
    val got = assertSamePaths(IndexStore.Lexical, path, kept.select("doc_id"),
      lexIndex(kept), "doc_id", 0.6)
    assert(got.nonEmpty)
  }

  test("semantic small-delta probe ≡ the pruned path at flips 0 and 1, before and after an append") {
    val path = store(IndexStore.Semantic, semIndex(emb.filter($"vec_id" % 5 < 3)), 8)
    val batchA = emb.filter($"vec_id" % 5 === 3)
    val batchB = emb.filter($"vec_id" % 5 === 4)
    val (idxA, idxB) = (semIndex(batchA), semIndex(batchB))
    for (flips <- Seq(0, 1)) {
      val got = assertSamePaths(IndexStore.Semantic, path, batchA.select("vec_id"),
        idxA, "vec_id", 0.4, flips)
      assert(got.exists(_.contains("dup_of_corpus")), got)
    }
    IndexStore.append(spark, IndexStore.Semantic, path,
      IndexStore.smallDeltaProbe(spark, IndexStore.Semantic, path,
        batchA.select("vec_id"), idxA, "vec_id", 0.4).get.admitted.get)
    for (flips <- Seq(0, 1))
      assertSamePaths(IndexStore.Semantic, path, batchB.select("vec_id"), idxB,
        "vec_id", 0.4, flips)
  }

  test("replay against a store that already holds the batch: both paths exclude self-pairs") {
    val lexBatch = docs.filter($"doc_id" % 5 === 3)
    val lexIdx = lexIndex(lexBatch)
    val lex = store(IndexStore.Lexical, lexIndex(docs.filter($"doc_id" % 5 < 3))
      .unionByName(lexIdx), 32)
    val semBatch = emb.filter($"vec_id" % 5 === 3)
    val semIdx = semIndex(semBatch)
    val sem = store(IndexStore.Semantic, semIndex(emb.filter($"vec_id" % 5 < 3))
      .unionByName(semIdx), 8)
    val got = assertSamePaths(IndexStore.Lexical, lex, lexBatch.select("doc_id"),
      lexIdx, "doc_id", 0.6) ++
      Seq(0, 1).flatMap(flips => assertSamePaths(IndexStore.Semantic, sem,
        semBatch.select("vec_id"), semIdx, "vec_id", 0.4, flips))
    assert(got.forall { r => val Array(id, _, dupOf) = r.split("\\|", -1); id != dupOf }, got)
  }

  test("edge deltas: an empty candidate set, no shingle-bearing rows, an empty delta") {
    val path = store(IndexStore.Lexical, lexIndex(docs.filter($"doc_id" % 5 < 3)), 32)
    val unseen = Seq((900001L, "zyxw vuts rqpo nmlk jihg fedc baz quux corge grault garply"),
        (900002L, "one two"))
      .toDF("doc_id", "text")
    // no stored key matches: every decision is new
    val fresh = assertSamePaths(IndexStore.Lexical, path, unseen.select("doc_id"),
      lexIndex(unseen), "doc_id", 0.6)
    assert(fresh.size == 2 && fresh.forall(_.contains("|new|")), fresh)
    // ids without a single index row
    val noIndex = assertSamePaths(IndexStore.Lexical, path, unseen.select("doc_id"),
      lexIndex(unseen).limit(0), "doc_id", 0.6)
    assert(noIndex.size == 2 && noIndex.forall(_.contains("|new|")), noIndex)
    // nothing at all, both kinds
    assert(assertSamePaths(IndexStore.Lexical, path, unseen.select("doc_id").limit(0),
      lexIndex(unseen).limit(0), "doc_id", 0.6).isEmpty)
    val sem = store(IndexStore.Semantic, semIndex(emb.filter($"vec_id" % 5 < 3)), 8)
    val none = emb.filter($"vec_id" < 0L)
    assert(assertSamePaths(IndexStore.Semantic, sem, none.select("vec_id"),
      semIndex(none), "vec_id", 0.4, flips = 1).isEmpty)
  }

  test("store reads run no schema-inference job; empty and int-id stores read correctly") {
    val none = docs.filter($"doc_id" < 0L)
    val sems = emb.filter($"vec_id" < 0L)
    for ((kind, empty, width, ids, idx, idCol, t) <- Seq(
        (IndexStore.Lexical, lexIndex(none), 32, none.select("doc_id"),
          lexIndex(none), "doc_id", 0.6),
        (IndexStore.Semantic, semIndex(sems), 8, sems.select("vec_id"),
          semIndex(sems), "vec_id", 0.4))) {
      val path = store(kind, empty, width)
      val (read, jobs) = jobsStartedBy(IndexStore.read(spark, kind, path))
      assert(jobs.isEmpty, s"${kind.name}: reading a store started $jobs")
      assert(read.schema("id").dataType == org.apache.spark.sql.types.LongType)
      assert(read.count() == 0)
      assert(assertSamePaths(kind, path, ids, idx, idCol, t).isEmpty)
    }
    // a payload table whose files hold INT ids (written before the store
    // cast its ids) reads back as the same BIGINT ids
    val path = store(IndexStore.Lexical, lexIndex(docs), 32)
    val intIds = tmp("graft_probe_intids")
    spark.read.parquet(s"$path/payload").withColumn("id", $"id".cast("int"))
      .write.partitionBy("idb").parquet(s"$intIds/payload")
    val want = IndexStore.read(spark, IndexStore.Lexical, path).orderBy("id").collect().toSeq
    Files.move(Paths.get(s"$intIds/payload"), Paths.get(s"$path/payload_int"))
    Files.move(Paths.get(s"$path/payload"), Paths.get(s"$intIds/payload"))
    Files.move(Paths.get(s"$path/payload_int"), Paths.get(s"$path/payload"))
    assert(IndexStore.read(spark, IndexStore.Lexical, path).orderBy("id").collect().toSeq == want)
  }

  test("a 4,097-row delta takes the pruned path and gets its decisions") {
    val path = store(IndexStore.Semantic, semIndex(emb), 8)
    // 4,097 synthetic vectors, every direction twice or thrice, so the
    // batch holds within-batch duplicates
    val n = IndexStore.MaxDeltaRows + 1
    val batch = spark.range(n).select(($"id" + 1000000L).as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        sin(($"id" % 2000) * 13 + j).cast("float")).as("embedding"))
    val idx = semIndex(batch)
    assert(idx.count() == n)
    assert(IndexStore.smallDeltaProbe(spark, IndexStore.Semantic, path,
      batch.select("vec_id"), idx, "vec_id", 0.9).isEmpty,
      "a delta above the row bound must take the pruned path")
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val got = Similarity.deltaSemNearDupFromStore(spark, path,
      batch.select("vec_id"), idx, "vec_id", threshold = 0.9)
    val want = Similarity.deltaSemNearDupFromStorePruned(spark, path,
      batch.select("vec_id"), idx, "vec_id", threshold = 0.9)
    assert(got.schema == want.schema)
    val gotRows = rows(got)
    assert(gotRows.size == n && gotRows == rows(want))
    assert(gotRows.exists(_.contains("dup_in_batch")), "the batch holds no dups")
  }

  test("a hot-bucket delta: small path ≡ the pruned path below the pair bound, the pruned path above it") {
    // one template and a distinct last word: every pair is a near
    // duplicate and every band bucket is shared by all the documents
    val template = (1 to 40).map(i => s"w$i").mkString(" ")
    def templated(from: Long, n: Int) =
      (0 until n).map(i => (from + i, s"$template t${from + i}")).toDF("doc_id", "text")
    val delta = templated(100000L, 30)
    val (ids, idx) = (delta.select("doc_id"), lexIndex(delta))
    val warm = store(IndexStore.Lexical, lexIndex(templated(0L, 40)), 32)
    val got = assertSamePaths(IndexStore.Lexical, warm, ids, idx, "doc_id", 0.6)
    assert(got.size == 30 && got.forall(_.endsWith("|dup_of_corpus|0")), got)
    // a caller's hot-bucket cap below the row bound asks for the pruned path
    assert(Dedup.nearDupStoreProbe(spark, warm, ids, idx, "doc_id", 0.6,
      hotBucketCap = 8).admitted.isEmpty)
    // 30 × 400 pairs, each meeting on most of its 32 bands: past the bound
    val hot = store(IndexStore.Lexical, lexIndex(templated(0L, 400)), 32)
    assert(IndexStore.smallDeltaProbe(spark, IndexStore.Lexical, hot, ids, idx,
      "doc_id", 0.6).isEmpty, "a delta past the pair bound must take the pruned path")
    val probe = Dedup.nearDupStoreProbe(spark, hot, ids, idx, "doc_id", 0.6)
    assert(probe.admitted.isEmpty)
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rows(probe.decisions) == rows(Dedup.deltaNearDupFromStorePruned(spark,
      hot, ids, idx, "doc_id", 0.6)))
    assert(rows(probe.decisions) == got)
  }

  test("a small-delta probe plus append starts at most 5 Spark jobs per kind, each one described") {
    val lexBatch = docs.filter($"doc_id" % 5 === 3)
    val semBatch = emb.filter($"vec_id" % 5 === 3)
    val cases = Seq(
      (IndexStore.Lexical, store(IndexStore.Lexical, lexIndex(docs.filter($"doc_id" % 5 < 3)), 32),
        lexBatch.select("doc_id"), lexIndex(lexBatch), "doc_id", 0.6),
      (IndexStore.Semantic, store(IndexStore.Semantic, semIndex(emb.filter($"vec_id" % 5 < 3)), 8),
        semBatch.select("vec_id"), semIndex(semBatch), "vec_id", 0.4))
    for ((kind, path, ids, idx, idCol, threshold) <- cases) {
      def files(table: String) = {
        val w = Files.walk(Paths.get(s"$path/$table"))
        try w.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(_.getParent.getFileName.toString).toList.groupBy(identity)
          .map { case (b, fs) => b -> fs.size }
        finally w.close()
      }
      val before = Seq("payload", "banded").map(files)
      val rows0 = IndexStore.read(spark, kind, path).count()
      val ((admitted, restored), jobs) = jobsStartedBy {
        val sc = spark.sparkContext
        sc.setJobDescription("the caller's description")
        val probe = IndexStore.smallDeltaProbe(spark, kind, path, ids, idx, idCol,
          threshold).get
        IndexStore.append(spark, kind, path, probe.admitted.get)
        (probe.admitted.get, sc.getLocalProperty("spark.job.description"))
      }
      assert(restored == "the caller's description", "the caller's description must be restored")
      info(s"${kind.name}: ${jobs.size} jobs: ${jobs.flatten.mkString("; ")}")
      assert(jobs.size <= 5, s"${kind.name}: ${jobs.size} jobs: $jobs")
      assert(jobs.forall(_.exists(_.startsWith(s"store-"))),
        s"${kind.name}: an undescribed job: $jobs")
      val n = admitted.count()
      assert(n > 0 && IndexStore.read(spark, kind, path).count() == rows0 + n)
      // the append still lands one file per bucket
      Seq("payload", "banded").map(files).zip(before).foreach { case (after, was) =>
        assert(after.forall { case (b, n) => n - was.getOrElse(b, 0) <= 1 }, after)
      }
    }
  }
}
