package graft

import org.apache.spark.sql.functions._

import graft.functions.{TextFns, VectorFns}
import graft.operators.{Dedup, IndexStore, Multimodal, Sessionize, Similarity}

/** Unit tests for the training-data pipeline operators (SURVEY §7.3) on
  * tiny fixtures with hand-computed answers: dedup (exact / Jaccard /
  * MinHash / SimHash), text functions, vector math, ANN, sessionization,
  * and the multimodal binary plumbing.
  */
class PipelineOpSpec extends SparkSpec {
  private lazy val sess = spark
  import sess.implicits._

  // ------------------------------------------------------------- text fns

  test("tokenCount / bpeTokenCount / stopwordCount / punctCount") {
    val df = Seq("The cat, the dog!").toDF("t")
    val r = df.select(
      TextFns.tokenCount(col("t")),
      TextFns.bpeTokenCount(col("t")),   // the|cat|,|the|dog|!
      TextFns.stopwordCount(col("t")),   // the, the
      TextFns.punctCount(col("t"))).collect().head
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) == ((4, 6, 2, 2)))
  }

  test("fingerprint is whitespace/case-insensitive, tokenSetKey order-insensitive") {
    val df = Seq(
      (1L, "Hello  World"),
      (2L, "hello world"),
      (3L, "world hello"),
      (4L, "entirely different")).toDF("id", "t")
    val fp = Dedup.byFingerprint(df, "id", "t").collect()
    assert(fp.length == 3) // 1+2 merge; 3 and 4 distinct
    assert(fp.find(_.getLong(2) == 2).get.getLong(1) == 1L) // keeper = min id
    val ts = Dedup.byTokenSet(df, "id", "t").collect()
    assert(ts.length == 2) // 1+2+3 merge on sorted token set
    assert(ts.map(_.getLong(2)).sorted.toSeq == Seq(1L, 3L))
  }

  test("shingles: distinct word n-grams; short docs yield empty set") {
    val df = Seq("a b c d", "a b").toDF("t")
    val got = df.select(TextFns.shingles(col("t"), 3)).as[Seq[String]].collect()
    assert(got(0).toSet == Set("a b c", "b c d"))
    assert(got(1).isEmpty)
  }

  test("ngramJaccardPairs computes exact Jaccard with known answer") {
    // shingle sets (n=2): A={ab,bc,cd}, B={ab,bc,ce}, C={xy,yz}
    val df = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z")).toDF("id", "t")
    val pairs = Dedup.ngramJaccardPairs(df, "id", "t", n = 2, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0.5))) // |∩|=2, |∪|=4
  }

  test("candidatePairs: hot buckets route through the streamed self-join exactly") {
    // "common" is shared by every doc (the boilerplate-shingle scale-killer):
    // with cap=2 its bucket takes the spill-safe self-join path while the
    // size-2 "x1" bucket still uses in-row enumeration — output must be the
    // exact union of both, deduplicated
    val index = Seq(
      (1L, "common"), (2L, "common"), (3L, "common"), (4L, "common"),
      (1L, "x1"), (2L, "x1"),
      (3L, "solo")).toDF("id", "g")
    val got = Dedup.candidatePairs(index, Seq("g"), cap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(got == expected)
  }

  test("saltedHotPairs spreads one dominant bucket's output over >1 task") {
    // one bucket holding 60 ids → 1770 pairs; unsalted, every pair would be
    // emitted by the single task owning key "hot" — the straggler the salt
    // exists to break up. With the id-range split, multiple join partitions
    // must write pairs, and the output must still be the exact pair set.
    // pin AQE partition coalescing off so the observed partition count
    // reflects the salted join's key spread, not a post-hoc merge of the
    // tiny test output into one partition
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    val (byPartition, got) =
      try {
        spark.conf.set(coalesceKey, "false")
        val index = Seq.tabulate(60)(i => (i.toLong, "hot")).toDF("id", "g")
          .repartition(8)
        val pairs = Dedup.saltedHotPairs(index, Seq("g"), hotSplit = 8)
        (pairs.withColumn("pid", spark_partition_id())
           .groupBy("pid").count().collect(),
         pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      } finally spark.conf.set(coalesceKey, prev)
    assert(byPartition.length > 1,
      s"expected >1 task writing pairs, got ${byPartition.toSeq}")
    val expected = (for {
      a <- 0L until 60L; b <- (a + 1) until 60L
    } yield (a, b)).toSet
    assert(got == expected)
  }

  test("ngramJaccardPairs stays exact when every bucket is hot (cap=1)") {
    val df = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z")).toDF("id", "t")
    val pairs = Dedup.ngramJaccardPairs(df, "id", "t", n = 2, threshold = 0.1,
        hotBucketCap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0.5)))
  }

  test("minHashPairs output equals exact ngramJaccardPairs on fixture") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "the quick brown fox jumps over the lazy cat again today"),
      (3L, "completely unrelated text about spark catalyst optimizer plans"),
      (4L, "the quick brown fox jumps over the lazy dog again tomorrow")).toDF("id", "t")
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val exact = canon(Dedup.ngramJaccardPairs(docs, "id", "t", 3, 0.3).collect())
    val lsh = canon(Dedup.minHashPairs(docs, "id", "t", 3, 0.3).collect())
    assert(exact.nonEmpty && lsh == exact)
  }

  test("deltaNearDup classifies new / dup_of_corpus / dup_in_batch on fixture") {
    val tpl = "the quick brown fox jumps over the lazy dog again today"
    val corpus = Seq(
      (1L, tpl),
      (2L, "completely unrelated corpus text about catalyst optimizer plans"))
      .toDF("id", "t")
    val batch = Seq(
      (14L, tpl),                                  // near-dup of corpus 1
      (19L, "some fresh sentences that match nothing in corpus or batch yet"),
      (24L, "some fresh sentences that match nothing in corpus or batch yet"),
      (29L, "another genuinely novel incoming document with its own words"),
      (34L, "too short"))                          // < 3 tokens: no shingle
      .toDF("id", "t")
    val idx = Dedup.nearDupIndex(corpus, "id", "t", n = 3).localCheckpoint()
    val got = Dedup.deltaNearDup(idx, batch, "id", "t", n = 3,
        threshold = 0.6)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq(
      (14L, "dup_of_corpus", 1L),
      (19L, "new", -1L),
      (24L, "dup_in_batch", 19L),
      (29L, "new", -1L),
      (34L, "new", -1L)), s"got $got")
  }

  test("deltaNearDup admit-then-probe: batch B dups against an admitted A doc") {
    // the q177 composition on a forced fixture: batch A's `new` rows are
    // admitted (their nearDupIndex rows appended), and a batch-B doc
    // whose ONLY near-match is an admitted A doc must classify
    // dup_of_corpus pointing at it — while a B doc matching an A doc
    // that was itself a dup (NOT admitted) must come back `new`
    val tpl = "the quick brown fox jumps over the lazy dog again today"
    val novelA = "some fresh sentences that match nothing in corpus or batch yet"
    val corpus = Seq((1L, tpl)).toDF("id", "t")
    val batchA = Seq(
      (13L, novelA),                                // admitted: new
      (18L, tpl))                                   // dup_of_corpus: NOT admitted
      .toDF("id", "t")
    val batchB = Seq(
      (24L, novelA),                                // matches admitted 13 only
      (29L, "another genuinely novel incoming document with its own words"))
      .toDF("id", "t")
    val idx0 = Dedup.nearDupIndex(corpus, "id", "t", n = 3).localCheckpoint()
    val decA = Dedup.deltaNearDup(idx0, batchA, "id", "t", n = 3,
      threshold = 0.6).localCheckpoint()
    val admitted = decA.filter($"status" === "new").select($"id")
    val idx1 = idx0.unionByName(
      Dedup.nearDupIndex(batchA, "id", "t", n = 3).join(admitted, "id"))
      .localCheckpoint()
    // the grown index holds exactly corpus + the one admitted A row
    assert(idx1.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 13L))
    val decB = Dedup.deltaNearDup(idx1, batchB, "id", "t", n = 3,
        threshold = 0.6)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(decB == Seq(
      (24L, "dup_of_corpus", 13L),
      (29L, "new", -1L)), s"got $decB")
  }

  test("near-dup index store: pruned probe ≡ in-memory; append; reband") {
    import java.nio.file.Files
    val docs = graft.sources.Tables.documents(spark, sf)
    val corpus = docs.filter($"doc_id" % 5 < 3)
    val batchA = docs.filter($"doc_id" % 5 === 3)
    val batchB = docs.filter($"doc_id" % 5 === 4)
    val idx0 = Dedup.nearDupIndex(corpus, "doc_id", "text", n = 3)
      .localCheckpoint()
    val idxA = Dedup.nearDupIndex(batchA, "doc_id", "text", n = 3)
      .localCheckpoint()
    val idxB = Dedup.nearDupIndex(batchB, "doc_id", "text", n = 3)
      .localCheckpoint()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    // probe decisions from the bucket-pruned store = the in-memory op
    val wantA = canon(Dedup.deltaNearDupFromIndex(idx0,
      batchA.select("doc_id"), idxA, "doc_id", threshold = 0.6))
    val path = Files.createTempDirectory("graft_ndstore").toString
    IndexStore.write(IndexStore.Lexical, idx0, path, width = 32,
      bandBuckets = 16, idBuckets = 16)
    val gotA = canon(Dedup.deltaNearDupFromStore(spark, path,
      batchA.select("doc_id"), idxA, "doc_id", threshold = 0.6))
    assert(gotA.nonEmpty && gotA == wantA)
    // append-only maintenance: admit batch A's new rows, probe batch B
    // against the grown store — identical to the grown in-memory index
    val admitted = Dedup.deltaNearDupFromIndex(idx0,
        batchA.select("doc_id"), idxA, "doc_id", threshold = 0.6)
      .filter($"status" === "new").select($"doc_id".as("id"))
    IndexStore.append(spark, IndexStore.Lexical, path, idxA.join(admitted, "id"))
    val idx1 = idx0.unionByName(idxA.join(admitted, "id")).localCheckpoint()
    val wantB = canon(Dedup.deltaNearDupFromIndex(idx1,
      batchB.select("doc_id"), idxB, "doc_id", threshold = 0.6))
    val gotB = canon(Dedup.deltaNearDupFromStore(spark, path,
      batchB.select("doc_id"), idxB, "doc_id", threshold = 0.6))
    assert(gotB.nonEmpty && gotB == wantB)
    // re-band (16 bands) + re-bucket without any text rescan: probe
    // decisions equal the in-memory op at the new width AND, banding
    // recall being complete on this corpus, the pre-reband decisions
    val path2 = Files.createTempDirectory("graft_ndstore_rb").toString
    IndexStore.reband(spark, IndexStore.Lexical, path, path2, width = 16,
      bandBuckets = 8, idBuckets = 8)
    val want16 = canon(Dedup.deltaNearDupFromIndex(idx1,
      batchB.select("doc_id"), idxB, "doc_id", threshold = 0.6,
      bands = 16))
    val got16 = canon(Dedup.deltaNearDupFromStore(spark, path2,
      batchB.select("doc_id"), idxB, "doc_id", threshold = 0.6))
    assert(got16 == want16 && got16 == gotB)
    // retention: compact to the even ids (a stand-in keep list) —
    // decisions equal the in-memory probe over the filtered index, and
    // expired docs stop being claimable as keepers
    val keep = idx1.select($"id").filter($"id" % 2 === 0)
    val path3 = Files.createTempDirectory("graft_ndstore_cp").toString
    IndexStore.compact(spark, IndexStore.Lexical, path2, path3, keep)
    val wantCp = canon(Dedup.deltaNearDupFromIndex(idx1.join(keep, "id"),
      batchB.select("doc_id"), idxB, "doc_id", threshold = 0.6,
      bands = 16))
    val gotCp = canon(Dedup.deltaNearDupFromStore(spark, path3,
      batchB.select("doc_id"), idxB, "doc_id", threshold = 0.6))
    assert(gotCp == wantCp)
    // expired docs stop being claimable as CORPUS keepers (within-batch
    // keepers are batch ids and unaffected by corpus retention)
    assert(gotCp.forall { case (_, status, dupOf) =>
      status != "dup_of_corpus" || dupOf % 2 == 0 })
  }

  test("signature store: pruned probe ≡ in-memory; append; reband; compact") {
    import java.nio.file.Files
    import graft.operators.Similarity
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .filter($"embedding".isNotNull)
    val corpus = emb.filter($"vec_id" % 5 < 3)
    val batchA = emb.filter($"vec_id" % 5 === 3)
    val batchB = emb.filter($"vec_id" % 5 === 4)
    val idx0 = Similarity.signatureFrame(corpus, "vec_id", "embedding")
      .localCheckpoint()
    val idxA = Similarity.signatureFrame(batchA, "vec_id", "embedding")
      .localCheckpoint()
    val idxB = Similarity.signatureFrame(batchB, "vec_id", "embedding")
      .localCheckpoint()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    val wantA = canon(Similarity.deltaSemNearDupFromIndex(idx0,
      batchA.select("vec_id"), idxA, "vec_id", threshold = 0.4,
      rowsPerBand = 8))
    val path = Files.createTempDirectory("graft_semstore").toString
    IndexStore.write(IndexStore.Semantic, idx0, path, width = 8,
      bandBuckets = 16, idBuckets = 16)
    val gotA = canon(Similarity.deltaSemNearDupFromStore(spark, path,
      batchA.select("vec_id"), idxA, "vec_id", threshold = 0.4))
    assert(gotA.nonEmpty && gotA == wantA)
    // read-back bridge: the store read ONCE as a frame + the recorded
    // width reproduce the store path's decisions in memory (the
    // durability-to-speed path the sem decade measurement prescribes)
    assert(Similarity.storedRowsPerBand(spark, path) == 8)
    val reRead = Similarity.readSignatureStore(spark, path)
      .localCheckpoint()
    val gotRb = canon(Similarity.deltaSemNearDupFromIndex(reRead,
      batchA.select("vec_id"), idxA, "vec_id", threshold = 0.4,
      rowsPerBand = Similarity.storedRowsPerBand(spark, path)))
    assert(gotRb == wantA)
    // append admitted, probe batch B against the grown store
    val admitted = Similarity.deltaSemNearDupFromIndex(idx0,
        batchA.select("vec_id"), idxA, "vec_id", threshold = 0.4,
        rowsPerBand = 8)
      .filter($"status" === "new").select($"vec_id".as("id"))
    Similarity.appendSignatureStore(spark, path, idxA.join(admitted, "id"))
    val idx1 = idx0.unionByName(idxA.join(admitted, "id")).localCheckpoint()
    val wantB = canon(Similarity.deltaSemNearDupFromIndex(idx1,
      batchB.select("vec_id"), idxB, "vec_id", threshold = 0.4,
      rowsPerBand = 8))
    val gotB = canon(Similarity.deltaSemNearDupFromStore(spark, path,
      batchB.select("vec_id"), idxB, "vec_id", threshold = 0.4))
    assert(gotB == wantB)
    // re-band to 4-bit bands from STORED signatures (no embedding read)
    val path2 = Files.createTempDirectory("graft_semstore_rb").toString
    IndexStore.reband(spark, IndexStore.Semantic, path, path2,
      width = 4, bandBuckets = 8, idBuckets = 8)
    val want4 = canon(Similarity.deltaSemNearDupFromIndex(idx1,
      batchB.select("vec_id"), idxB, "vec_id", threshold = 0.4,
      rowsPerBand = 4))
    val got4 = canon(Similarity.deltaSemNearDupFromStore(spark, path2,
      batchB.select("vec_id"), idxB, "vec_id", threshold = 0.4))
    assert(got4 == want4)
    // retention: compact to the even ids
    val keep = idx1.select($"id").filter($"id" % 2 === 0)
    val path3 = Files.createTempDirectory("graft_semstore_cp").toString
    IndexStore.compact(spark, IndexStore.Semantic, path2, path3, keep)
    val wantCp = canon(Similarity.deltaSemNearDupFromIndex(
      idx1.join(keep, "id"), batchB.select("vec_id"), idxB, "vec_id",
      threshold = 0.4, rowsPerBand = 4))
    val gotCp = canon(Similarity.deltaSemNearDupFromStore(spark, path3,
      batchB.select("vec_id"), idxB, "vec_id", threshold = 0.4))
    assert(gotCp == wantCp)
  }

  test("managed signature store: pointer-resolved probes, live compact+reband") {
    import java.nio.file.Files
    import graft.operators.{Dedup, Similarity}
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .filter($"embedding".isNotNull)
    val corpus = emb.filter($"vec_id" % 5 < 3)
    val batchA = emb.filter($"vec_id" % 5 === 3)
    val batchB = emb.filter($"vec_id" % 5 === 4)
    val idx0 = Similarity.signatureFrame(corpus, "vec_id", "embedding")
      .localCheckpoint()
    val idxA = Similarity.signatureFrame(batchA, "vec_id", "embedding")
      .localCheckpoint()
    val idxB = Similarity.signatureFrame(batchB, "vec_id", "embedding")
      .localCheckpoint()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    val root = Files.createTempDirectory("graft_semstore_mg").toString
    Similarity.initManagedSignatureStore(spark, root, idx0,
      rowsPerBand = 8, bandBuckets = 16, idBuckets = 16)
    // every entry point resolves the pointer: probing the ROOT equals
    // the in-memory probe over v00001's frame
    assert(Dedup.resolveStoreDir(spark, root).endsWith("v00001"))
    assert(Similarity.storedRowsPerBand(spark, root) == 8)
    val wantA = canon(Similarity.deltaSemNearDupFromIndex(idx0,
      batchA.select("vec_id"), idxA, "vec_id", threshold = 0.4,
      rowsPerBand = 8))
    assert(canon(Similarity.deltaSemNearDupFromStore(spark, root,
      batchA.select("vec_id"), idxA, "vec_id", threshold = 0.4)) == wantA)
    // LIVE retention compaction: keep the even standing ids, and inject
    // a concurrent append (batch A's rows, landing in BLUE through the
    // still-unswapped pointer) into the build-vs-swap race window — the
    // locked catch-up must carry it into green
    val keep = idx0.select($"id").filter($"id" % 2 === 0).localCheckpoint()
    IndexStore.maintainManaged(spark, IndexStore.Semantic, root,
      Some(keep), None, afterBuild = () =>
        IndexStore.withStoreLock(root) {
          Similarity.appendSignatureStore(spark, root, idxA)
        })
    assert(Dedup.resolveStoreDir(spark, root).endsWith("v00002"))
    val idx1 = idx0.join(keep, "id").unionByName(idxA).localCheckpoint()
    val wantB = canon(Similarity.deltaSemNearDupFromIndex(idx1,
      batchB.select("vec_id"), idxB, "vec_id", threshold = 0.4,
      rowsPerBand = 8))
    assert(canon(Similarity.deltaSemNearDupFromStore(spark, root,
      batchB.select("vec_id"), idxB, "vec_id", threshold = 0.4)) == wantB)
    // managed reband: decisions re-derive at the new width, same content
    IndexStore.rebandManaged(spark, IndexStore.Semantic, root,
      width = 4, bandBuckets = 8, idBuckets = 8)
    assert(Dedup.resolveStoreDir(spark, root).endsWith("v00003"))
    assert(Similarity.storedRowsPerBand(spark, root) == 4)
    val want4 = canon(Similarity.deltaSemNearDupFromIndex(idx1,
      batchB.select("vec_id"), idxB, "vec_id", threshold = 0.4,
      rowsPerBand = 4))
    assert(canon(Similarity.deltaSemNearDupFromStore(spark, root,
      batchB.select("vec_id"), idxB, "vec_id", threshold = 0.4)) == want4)
    // read-back bridge resolves the pointer too
    assert(Similarity.readSignatureStore(spark, root).count() ==
      idx1.count())
  }

  test("delta cross leg: hot-standing-bucket drop + fetch fallback (lexical)") {
    // a template-hot STANDING index: 20 corpus docs share one text →
    // one signature → every band is a 20-deep bucket; the moment a
    // batch doc probes it, the candidate set is O(hot bucket) — the
    // round-17 verdict's unprotected scale edge
    val tpl = "identical boilerplate template text repeated across corpus entries"
    val benign = "a genuinely unique benign corpus document with its own words"
    val corpus = ((1L to 20L).map(i => (i, tpl)) :+ (50L, benign))
      .toDF("id", "t")
    val batch = Seq((101L, tpl), (102L, benign),
      (103L, "wholly novel incoming text matching nothing at all"))
      .toDF("id", "t")
    val idx = Dedup.nearDupIndex(corpus, "id", "t", n = 3).localCheckpoint()
    val idxB = Dedup.nearDupIndex(batch, "id", "t", n = 3).localCheckpoint()
    def run(drop: Int = 0, maxB: Long = IndexStore.MaxFetchBroadcastIds) =
      Dedup.deltaNearDupFromIndex(idx, batch.select($"id"), idxB, "id",
          threshold = 0.6, hotBucketDrop = drop,
          maxFetchBroadcastIds = maxB)
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    val base = run()
    assert(base == Seq((101L, "dup_of_corpus", 1L),
      (102L, "dup_of_corpus", 50L), (103L, "new", -1L)), s"got $base")
    // dropOver above every bucket size: decisions identical (the
    // within-batch dropOver contract carried to the standing side)
    assert(run(drop = 1000) == base)
    // size-guard fallback (maxFetchBroadcastIds = 0 forces the
    // shuffle-hash left-semi fetch): decisions identical — the guard
    // only changes WHERE the candidate-id reduction happens
    assert(run(maxB = 0L) == base)
    // dropOver below the hot bucket: the template bucket is excised, so
    // the boilerplate batch doc loses its corpus match (the documented
    // relief-valve trade) while decisions off hot buckets are untouched
    val dropped = run(drop = 8)
    assert(dropped == Seq((101L, "new", -1L),
      (102L, "dup_of_corpus", 50L), (103L, "new", -1L)), s"got $dropped")
  }

  test("delta cross leg: hot-standing-bucket drop + fetch fallback (semantic)") {
    import graft.operators.Similarity
    def vec(lo: Int, hi: Int): Array[Float] =
      Array.tabulate(64)(i => if (i >= lo && i < hi) 1.0f else 0.0f)
    val hot = vec(0, 21); val benign = vec(21, 42)
    val corpus = ((1L to 20L).map(i => (i, hot)) :+ (50L, benign))
      .toDF("vec_id", "embedding")
    val batch = Seq((101L, hot), (102L, benign), (103L, vec(42, 64)))
      .toDF("vec_id", "embedding")
    val idx = Similarity.signatureFrame(corpus, "vec_id", "embedding")
      .localCheckpoint()
    val idxB = Similarity.signatureFrame(batch, "vec_id", "embedding")
      .localCheckpoint()
    def run(drop: Int = 0, maxB: Long = IndexStore.MaxFetchBroadcastIds) =
      Similarity.deltaSemNearDupFromIndex(idx, batch.select($"vec_id"),
          idxB, "vec_id", threshold = 0.5, rowsPerBand = 8,
          hotBucketDrop = drop, maxFetchBroadcastIds = maxB)
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    val base = run()
    assert(base == Seq((101L, "dup_of_corpus", 1L),
      (102L, "dup_of_corpus", 50L), (103L, "new", -1L)), s"got $base")
    assert(run(drop = 1000) == base)
    assert(run(maxB = 0L) == base)
    val dropped = run(drop = 8)
    assert(dropped == Seq((101L, "new", -1L),
      (102L, "dup_of_corpus", 50L), (103L, "new", -1L)), s"got $dropped")
  }

  test("deltaSemNearDup classifies against a persisted signature index") {
    import graft.operators.Similarity
    // disjoint-support vectors: cosine is exactly 1 within a family and
    // exactly 0 across families, so statuses are forced regardless of
    // banding luck (a cross-family band collision is verify-rejected)
    def vec(lo: Int, hi: Int): Array[Float] =
      Array.tabulate(64)(i => if (i >= lo && i < hi) 1.0f else 0.0f)
    val vA = vec(0, 21); val vB = vec(21, 42); val vC = vec(42, 64)
    val corpus = Seq((1L, vA), (2L, vC)).toDF("vec_id", "embedding")
    val batch = Seq(
      (14L, vA), // dup of corpus 1
      (19L, vB), // new family
      (24L, vB), // dup of 19 within the batch
      (29L, vec(42, 50))) // cos vs corpus 2 = sqrt(8/22) ≈ 0.6 ≥ 0.5
      .toDF("vec_id", "embedding")
    val idx = Similarity.signatureFrame(corpus, "vec_id", "embedding")
      .localCheckpoint()
    val got = Similarity.deltaSemNearDup(idx, batch, "vec_id", "embedding",
        threshold = 0.5, rowsPerBand = 8)
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq(
      (14L, "dup_of_corpus", 1L),
      (19L, "new", -1L),
      (24L, "dup_in_batch", 19L),
      (29L, "dup_of_corpus", 2L)), s"got $got")
    // append-only maintenance: admitting the new rows' signature rows
    // and re-running the NEXT batch against the grown index classifies
    // against both generations
    val grown = idx.unionByName(
      Similarity.signatureFrame(batch.filter($"vec_id" === 19L),
        "vec_id", "embedding")).localCheckpoint()
    val next = Similarity.deltaSemNearDup(grown,
        Seq((99L, vB)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", threshold = 0.5, rowsPerBand = 8)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(next == Seq((99L, "dup_of_corpus", 19L)), s"got $next")
  }

  test("deltaSemNearDupFromIndex: shared batch frame probes and admits") {
    import graft.operators.Similarity
    def vec(lo: Int, hi: Int): Array[Float] =
      Array.tabulate(64)(i => if (i >= lo && i < hi) 1.0f else 0.0f)
    val vA = vec(0, 21); val vB = vec(21, 42)
    val corpus = Seq((1L, vA)).toDF("vec_id", "embedding")
    val batchA = Seq((13L, vB), (18L, vA)).toDF("vec_id", "embedding")
    val idx0 = Similarity.signatureFrame(corpus, "vec_id", "embedding")
      .localCheckpoint()
    // the batch's signature rows are computed ONCE and serve probe + admit
    val idxA = Similarity.signatureFrame(batchA, "vec_id", "embedding")
      .localCheckpoint()
    val decA = Similarity.deltaSemNearDupFromIndex(idx0,
        batchA.select("vec_id"), idxA, "vec_id",
        threshold = 0.5, rowsPerBand = 8)
      .localCheckpoint()
    // identical to the text-in entry point on the same inputs
    val viaText = Similarity.deltaSemNearDup(idx0, batchA, "vec_id",
        "embedding", threshold = 0.5, rowsPerBand = 8)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    val viaIdx = decA.collect().map(r => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    assert(viaIdx == Seq((13L, "new", -1L), (18L, "dup_of_corpus", 1L))
      && viaText == viaIdx, s"got $viaIdx vs $viaText")
    // admit from the SAME frame, probe the grown index with batch B:
    // a B vector matching only the admitted 13 must say dup_of_corpus 13
    val admitted = decA.filter($"status" === "new")
      .select($"vec_id".as("id"))
    val idx1 = idx0.unionByName(idxA.join(admitted, "id")).localCheckpoint()
    val decB = Similarity.deltaSemNearDup(idx1,
        Seq((24L, vB)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", threshold = 0.5, rowsPerBand = 8)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(decB == Seq((24L, "dup_of_corpus", 13L)), s"got $decB")
  }

  test("rarity-order prefix: identical output, template kept out of prefixes") {
    // the prefix filter is exact under ANY consistent global order —
    // rarity (df asc) must reproduce the hash-order output bit-for-bit
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
    val docs = graft.sources.Tables.documents(spark, sf)
    val hash = canon(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6))
    val rare = canon(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6,
      rarityOrder = true))
    assert(hash.nonEmpty && rare == hash)
    // and on a templated corpus the template shingles stay out of the
    // prefixes: a corpus-wide common head forms NO bucket over df 2
    val template = "alpha beta gamma delta epsilon zeta eta theta"
    val tpl = ((0L until 10L).map(i =>
      (i, s"$template u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f"))).toDF("id", "t")
    val hashT = canon(Dedup.ngramJaccardPairs(tpl, "id", "t", 3, 0.6))
    val rareT = canon(Dedup.ngramJaccardPairs(tpl, "id", "t", 3, 0.6,
      rarityOrder = true))
    assert(rareT == hashT) // exactness under skew too
  }

  test("semDedup maxCell: high bound is a no-op; low bound splits, never pairs wrong") {
    val rnd = new scala.util.Random(11)
    // one tight-ish cluster + spread vectors, all in few cells
    val base = Array.fill(16)(rnd.nextFloat() - 0.5f)
    val vecs = (0L until 40L).map { i =>
      if (i % 2 == 0)
        (i, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f))
      else (i, Array.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    def keeps(maxCell: Int) = Similarity.semDedup(
        df, "vec_id", "embedding", threshold = 0.9, nCells = 4,
        maxCell = maxCell)
      .select("vec_id", "cluster", "keep")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val unsplit = keeps(0)
    // a bound larger than any cell changes nothing
    assert(keeps(1000) == unsplit)
    // the census-driven AUTO default stays OFF below the measured
    // crossover (every cell here is far under SemDedupSplitFloor)
    assert(keeps(-1) == unsplit)
    // an aggressive bound may only SPLIT clusters (more keeps, fewer
    // merges) — it can never produce a pair/merge the unsplit run
    // lacked, so every split-run cluster is within one unsplit cluster
    val split = keeps(4)
    assert(split.map(_._1) == unsplit.map(_._1))
    assert(split.count(_._3 == 1L) >= unsplit.count(_._3 == 1L))
    val unsplitCluster = unsplit.map(r => r._1 -> r._2).toMap
    val byCluster = split.groupBy(_._2).values
    assert(byCluster.forall(ms => ms.map(m => unsplitCluster(m._1)).distinct.size == 1),
      "a split-run cluster merged docs the unsplit run kept apart")
  }

  test("minHashPairs hotBucketDrop: boilerplate buckets out, recall trade real") {
    // 12 docs sharing a template head with unique tails (mutual J far
    // below threshold) + one genuine near-dup pair with NO template
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val template = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi" // 16 tokens: dominates signatures
    val docs = ((0L until 12L).map(i =>
        (i, s"$template u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g u${i}h")) ++ Seq(
      (20L, "the quick brown fox jumps over the lazy dog again today"),
      (21L, "the quick brown fox jumps over the lazy dog again tomorrow")))
      .toDF("id", "t")
    val full = canon(Dedup.minHashPairs(docs, "id", "t", 3, 0.5).collect())
    // template docs sit below threshold (J ~ 0.41): only (20, 21) is true
    assert(full == Seq((20L, 21L)))
    // dropping buckets > 2 removes every multi-doc template bucket from
    // candidate generation; output is UNCHANGED — dropped candidates were
    // all verifier-rejected, and the clean pair rides size-2 buckets
    val dropped = canon(
      Dedup.minHashPairs(docs, "id", "t", 3, 0.5, hotBucketDrop = 2).collect())
    assert(dropped == full)
    // the recall trade is real: near-IDENTICAL template docs (true
    // pairs) live almost entirely in the one all-docs bucket per band;
    // dropping those buckets loses the pairs — documented boilerplate
    // semantics, not a silent no-op
    val big = template + " rho sigma tau upsilon phi chi psi omega " +
      "one two three four five six" // 30 tokens; 1-token tails deviate
    val twins = (0L until 12L).map(i => (i, s"$big tail$i")).toDF("id", "t")
    val kept = Dedup.minHashPairs(twins, "id", "t", 3, 0.5).count()
    assert(kept > 0)
    val gone = Dedup.minHashPairs(twins, "id", "t", 3, 0.5, hotBucketDrop = 4).count()
    assert(gone == 0)
  }

  test("minHash kernel, aggregate, and array-fold formulations all agree") {
    val df = Seq((1L, "a b c d e f g h"), (2L, "x y z w v u t s")).toDF("id", "t")
    val sh = df.select(col("id"), TextFns.shingles(col("t"), 3).as("sh"))
    val agg = Dedup.minHashSigs(sh, 64).orderBy("id")
      .select("sig").as[Seq[Long]].collect().toSeq
    val fold = sh.orderBy("id")
      .select(Dedup.minHashSignature(col("sh"))).as[Seq[Long]].collect().toSeq
    val kernel = sh.orderBy("id")
      .select(graft.expressions.MinHashSig(col("sh"), 64))
      .as[Seq[Long]].collect().toSeq
    assert(agg == fold)
    assert(kernel == fold)
    // corpus sample: kernel == aggregate formulation on real shingles
    val corp = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") < 30)
      .select(col("doc_id").as("id"), TextFns.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val ka = corp.select(col("id"), graft.expressions.MinHashSig(col("sh"), 64)
      .as("k")).orderBy("id").as[(Long, Seq[Long])].collect().toSeq
    val aa = Dedup.minHashSigs(corp, 64).orderBy("id")
      .as[(Long, Seq[Long])].collect().toSeq
    assert(ka == aa)
  }

  test("inlined plane-matrix LSH signature equals the per-row formula") {
    val corpus = graft.sources.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 20).orderBy("vec_id")
    val planes = Similarity.planeMatrix
    val kernel = corpus.select(
      Similarity.signature(VectorFns.toDouble(col("embedding"))))
      .as[Seq[Int]].collect().toSeq
    val hof = corpus.select(
      Similarity.signatureHof(VectorFns.toDouble(col("embedding")), planes))
      .as[Seq[Int]].collect().toSeq
    val ref = corpus.select(Similarity.lshSignature(col("embedding")))
      .as[Seq[Int]].collect().toSeq
    assert(kernel == ref)
    assert(hof == ref)
    // the kernel also accepts the raw float column (exact widening)
    val kernelF = corpus.select(Similarity.signature(col("embedding")))
      .as[Seq[Int]].collect().toSeq
    assert(kernelF == ref)
  }

  test("dropDuplicatesExact keeps exactly the min-id row per group") {
    val df = Seq(
      (5L, "hello world", "keep-not"), (2L, "Hello  WORLD", "keep"),
      (7L, "other text", "keep")).toDF("id", "t", "tag")
    val kept = Dedup.dropDuplicatesExact(df, "id",
      Seq(TextFns.fingerprint(col("t"))))
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 7L))
  }

  test("simHashPairs equals brute-force hamming pairs (pigeonhole exactness)") {
    val texts = Seq(
      "spark catalyst plans distributed queries over columnar data today",
      "spark catalyst plans distributed queries over columnar data today",
      "spark catalyst plans distributed queries over columnar files today",
      "completely different words about ultrasonic radar telemetry",
      "the quick brown fox jumps over the lazy dog repeatedly",
      "the quick brown fox jumps over the lazy cat repeatedly")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val sigs = df.select(col("id"), Dedup.simHash(col("t")))
      .as[(Long, Long)].collect().toMap
    val budget = 20
    val expected = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= budget
    } yield (a, b, h)).toSeq.sorted
    val got = Dedup.simHashPairs(df, "id", "t", maxHamming = budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    // pigeonhole candidates must be a superset of every <=budget pair, so
    // after exact verification the operator equals brute force
    assert(got == expected)
    assert(expected.exists { case (a, b, h) => a == 0L && b == 1L && h == 0 })
  }

  test("portable simhash aggregate formulation equals the expression of record") {
    val df = Seq(
      (1L, "the quick  brown fox"), // double space: empty token hashed too
      (2L, "egg spam egg spam"),
      (3L, "x")).toDF("id", "t")
    val agg = Dedup.simHashPortableSigs(df, "id", "t").orderBy("id")
      .select("sig").as[Long].collect().toSeq
    val exprForm = df.orderBy("id")
      .select(Dedup.simHashPortable(col("t"))).as[Long].collect().toSeq
    assert(agg == exprForm)
  }

  test("simHashPortablePairs equals brute-force hamming over portable sigs") {
    val texts = Seq(
      "spark catalyst plans distributed queries over columnar data today",
      "spark catalyst plans distributed queries over columnar data today",
      "spark catalyst plans distributed queries over columnar files today",
      "completely different words about ultrasonic radar telemetry",
      "the quick brown fox jumps over the lazy dog repeatedly",
      "the quick brown fox jumps over the lazy cat repeatedly")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val sigs = df.select(col("id"), Dedup.simHashPortable(col("t")))
      .as[(Long, Long)].collect().toMap
    val budget = 19 // 20 blocks of 3 bits over the 60-bit signature
    val expected = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= budget
    } yield (a, b, h)).toSeq.sorted
    val got = Dedup.simHashPortablePairs(df, "id", "t", maxHamming = budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sorted
    assert(got == expected)
    assert(expected.exists { case (a, b, h) => a == 0L && b == 1L && h == 0 })
  }

  test("simHash: identical texts collide, perturbed text is hamming-close") {
    val df = Seq(
      (1L, "spark catalyst plans distributed queries over columnar data"),
      (2L, "spark catalyst plans distributed queries over columnar data"),
      (3L, "spark catalyst plans distributed queries over columnar files"),
      (4L, "egg spam egg spam egg spam egg spam egg spam")).toDF("id", "t")
    val sig = df.select(Dedup.simHash(col("t"))).as[Long].collect()
    assert(sig(0) == sig(1))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sig(0), sig(2)) < hamming(sig(0), sig(3)))
  }

  test("langId picks the dominant stopword language deterministically") {
    val df = Seq(
      "the cat is on the mat and it is happy",
      "der hund und die katze ist ein tier",
      "el gato y los perros es de las casas",
      "le chat et les chiens est un une maison").toDF("t")
    val got = df.select(TextFns.langId(col("t"))).as[String].collect().toSeq
    assert(got == Seq("en", "de", "es", "fr"))
  }

  // ---------------------------------------------------------- vector math

  test("VectorFns dot/norm/cosine with hand-computed values") {
    val df = Seq((Array(1.0f, 2.0f, 2.0f), Array(2.0f, 0.0f, 0.0f))).toDF("a", "b")
    val r = df.select(
      VectorFns.dot(col("a"), col("b")),
      VectorFns.norm(col("a")),
      VectorFns.cosine(col("a"), col("b"))).collect().head
    assert(r.getDouble(0) == 2.0)
    assert(r.getDouble(1) == 3.0)
    assert(math.abs(r.getDouble(2) - 2.0 / (3.0 * 2.0)) < 1e-15)
  }

  test("vec_dot is usable from SQL text after extension registration") {
    GraftExtensions.register(spark)
    graft.sources.Tables.embeddings(spark, sf).createOrReplaceTempView("emb_v")
    val r = spark.sql(
      """SELECT vec_id, vec_dot(embedding, embedding) AS sq_norm
        |FROM emb_v WHERE vec_id = 0""".stripMargin).collect().head
    assert(r.getDouble(1) > 0.0)
  }

  test("kmv_distinct is usable from SQL text and matches the Column API") {
    GraftExtensions.register(spark)
    graft.sources.Tables.events(spark, sf).createOrReplaceTempView("ev_kmv_v")
    val sql = spark.sql(
      """SELECT kmv_distinct(
        |         cast(conv(substring(md5(concat('kmv:', cast(user_id AS string))), 1, 15), 16, 10) AS bigint),
        |         64) AS d
        |FROM ev_kmv_v""".stripMargin).collect().head.getDouble(0)
    val api = graft.sources.Tables.events(spark, sf)
      .agg(graft.expressions.KMinValues.kmvDistinct(
        graft.operators.Splits.portableHash(col("user_id"), "kmv"), 64))
      .collect().head.getDouble(0)
    assert(sql == api && sql > 0.0)
  }

  test("word_ngrams / bmp_image / image_features usable from SQL text") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT word_ngrams(split('a b c', ' '), 2) AS g,
        |       image_features(bmp_image('abc')).height AS h,
        |       image_features(bmp_image('abc')).channels AS c""".stripMargin)
      .collect().head
    assert(r.getSeq[String](0) == Seq("a b", "b c"))
    assert(r.getInt(1) == 1 && r.getInt(2) == 3)
  }

  test("simhash_pack / minhash_sig / sorted_intersect_count from SQL text") {
    GraftExtensions.register(spark)
    Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "zz yy"))
      .toDF("doc_id", "text").createOrReplaceTempView("ext_docs_v")
    // SQL-text SimHash signatures must equal the operator-path fast sigs
    val sqlSigs = spark.sql(
      """SELECT doc_id, simhash_pack(xxhash64(tok), 64) AS sig
        |FROM (SELECT doc_id, explode(split(text, ' ')) AS tok FROM ext_docs_v)
        |GROUP BY doc_id""".stripMargin)
      .as[(Long, Long)].collect().toMap
    val apiSigs = spark.table("ext_docs_v")
      .select(col("doc_id"), graft.operators.Dedup.simHash(col("text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sqlSigs == apiSigs)
    assert(sqlSigs(1L) == sqlSigs(2L) && sqlSigs(1L) != sqlSigs(3L))
    // the builder returns the AggregateFunction UNWRAPPED, so the
    // analyzer's own DISTINCT/FILTER wiring applies: a duplicated token
    // stream under DISTINCT must pack to the same signature as the
    // deduplicated stream (tokens vote once each)
    val distinctSigs = spark.sql(
      """SELECT doc_id, simhash_pack(DISTINCT xxhash64(tok), 64) AS sig
        |FROM (SELECT doc_id, explode(split(concat(text, ' ', text), ' ')) AS tok
        |      FROM ext_docs_v)
        |GROUP BY doc_id""".stripMargin)
      .as[(Long, Long)].collect().toMap
    assert(distinctSigs == sqlSigs)
    // minhash_sig + two-pointer intersection, pure SQL text
    val r = spark.sql(
      """SELECT size(minhash_sig(word_ngrams(split('a b c d', ' '), 2), 64)) AS w,
        |       sorted_intersect_count(array(1L, 3L, 5L), array(3L, 5L, 9L)) AS i,
        |       xxhash64_array(array('x')) AS h""".stripMargin).collect().head
    assert(r.getInt(0) == 64)
    assert(r.getInt(1) == 2)
    assert(r.getSeq[Long](2).head == spark.sql("SELECT xxhash64('x')").collect().head.getLong(0))
  }

  test("hash_embed_vec from SQL text equals the operator path") {
    GraftExtensions.register(spark)
    Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta"))
      .toDF("doc_id", "text").createOrReplaceTempView("he_docs_v")
    val sqlEmb = spark.sql(
      """SELECT doc_id, hash_embed_vec(split(text, ' '), 64) AS embedding
        |FROM he_docs_v""".stripMargin)
      .as[(Long, Seq[Double])].collect().toMap
    val apiEmb = graft.operators.Similarity.hashEmbedRowwise(
        spark.table("he_docs_v"), "doc_id", "text")
      .as[(Long, Seq[Double])].collect().toMap
    assert(sqlEmb == apiEmb)
    assert(sqlEmb(1L).map(x => x * x).sum > 0.99)
  }

  test("SortedIntersectCount: two-pointer merge semantics vs reference intersect") {
    val cases = Seq(
      (Seq(1L, 3L, 5L), Seq(2L, 3L, 5L, 9L), 2),  // plain overlap
      (Seq.empty[Long], Seq(1L, 2L), 0),           // empty side
      (Seq(1L, 1L, 2L), Seq(1L, 2L, 2L), 2),       // multiset: min multiplicity
      (Seq(-5L, 0L, 7L), Seq(-5L, 0L, 7L), 3))     // identical incl. negatives
    val df = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
    val got = df.select(
      graft.expressions.SortedIntersectCount(col("a"), col("b"))).as[Int].collect()
    assert(got.toSeq == cases.map(_._3))
    // null array -> null result (BinaryExpression null-safe contract)
    val n = Seq((Seq(1L), null.asInstanceOf[Seq[Long]])).toDF("a", "b")
      .select(graft.expressions.SortedIntersectCount(col("a"), col("b"))).collect().head
    assert(n.isNullAt(0))
  }

  test("SortedRunStats: distinct count + max run on sorted string arrays") {
    val cases = Seq(
      (Seq("a", "a", "a", "b", "c", "c"), (3, 3)), // runs 3,1,2
      (Seq("x"), (1, 1)),                          // singleton
      (Seq.empty[String], (0, 0)),                 // empty array
      (Seq("a", "b", "c", "d"), (4, 1)),           // all distinct
      (Seq("q", "q", "q", "q"), (1, 4)))           // one run
    val df = cases.map(_._1).toDF("a")
    val got = df.select(
      graft.expressions.SortedRunStats(col("a")).as("s"))
      .select(col("s.n_distinct"), col("s.max_run")).as[(Int, Int)].collect()
    assert(got.toSeq == cases.map(_._2))
    // null array -> null result (UnaryExpression null-safe contract)
    val n = Seq(Tuple1(null.asInstanceOf[Seq[String]])).toDF("a")
      .select(graft.expressions.SortedRunStats(col("a"))).collect().head
    assert(n.isNullAt(0))
    // agreement with the built-ins it replaces, on real corpus tokens
    val toks = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") < 40)
      .select(sort_array(TextFns.tokens(col("text"))).as("a"))
    val both = toks.select(
      graft.expressions.SortedRunStats(col("a")).as("s"),
      size(array_distinct(col("a"))).as("d")).collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getStruct(0).getInt(0) == r.getInt(1))
      assert(r.getStruct(0).getInt(1) >= 1)
    }
  }

  test("SortedContainsCount: binary-search membership vs array_intersect") {
    val cases = Seq(
      (Seq("c", "a", "z"), Seq("a", "b", "c", "d"), 2), // unsorted needles
      (Seq.empty[String], Seq("a"), 0),                 // no needles
      (Seq("a", "b"), Seq.empty[String], 0),            // empty haystack
      (Seq("m"), Seq("a", "m", "z"), 1),                // exact middle hit
      (Seq("aa", "ab", "b"), Seq("ab"), 1))             // prefix neighbours
    val df = cases.map { case (a, b, _) => (a, b) }.toDF("a", "b")
    val got = df.select(
      graft.expressions.SortedContainsCount(col("a"), col("b"))).as[Int].collect()
    assert(got.toSeq == cases.map(_._3))
    // null array -> null result
    val n = Seq((Seq("a"), null.asInstanceOf[Seq[String]])).toDF("a", "b")
      .select(graft.expressions.SortedContainsCount(col("a"), col("b"))).collect().head
    assert(n.isNullAt(0))
    // agreement with array_intersect on real corpus shingles (distinct
    // needles — the shingle contract)
    val docs = graft.sources.Tables.documents(spark, sf)
    val hay = docs.filter(col("doc_id") < 25)
      .select(explode(TextFns.shingles(col("text"), 3)).as("g"))
      .distinct().agg(sort_array(collect_set(col("g"))).as("h"))
    val both = docs.filter(col("doc_id") >= 25 && col("doc_id") < 75)
      .select(TextFns.shingles(col("text"), 3).as("gs"))
      .crossJoin(broadcast(hay))
      .select(
        graft.expressions.SortedContainsCount(col("gs"), col("h")).as("k"),
        size(array_intersect(col("gs"), col("h"))).as("ref")).collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("XxHash64Array matches the xxhash64 builtin element-for-element") {
    val df = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") < 40)
      .select(TextFns.shingles(col("text"), 3).as("sh"))
    val both = df.select(
      graft.expressions.XxHash64Array(col("sh")).as("k"),
      transform(col("sh"), g => xxhash64(g)).as("ref")).collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    val n = Seq(Tuple1(null.asInstanceOf[Seq[String]])).toDF("sh")
      .select(graft.expressions.XxHash64Array(col("sh"))).collect().head
    assert(n.isNullAt(0))
  }

  test("HashPrefixGrams matches the declarative prefix formula") {
    for (t <- Seq(0.4, 0.55, 0.6, 1.0)) {
      val sh = graft.sources.Tables.documents(spark, sf)
        .filter(col("doc_id") < 60)
        .select(TextFns.shingles(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
      val prefLen =
        (size(col("sh")) - ceil(round(lit(t) * size(col("sh")), 9)) + 1)
          .cast("int")
      val hashOrdered = transform(
        array_sort(transform(col("sh"),
          g => struct(xxhash64(g).as("h"), g.as("g")))),
        s => s.getField("g"))
      val both = sh.select(
        graft.expressions.HashPrefixGrams(col("sh"), t).as("k"),
        slice(hashOrdered, lit(1), prefLen).as("ref")).collect()
      assert(both.nonEmpty)
      both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"threshold $t"))
    }
  }

  test("PqAssign picks the L2-nearest centroid per subspace, ties low") {
    // 2 subspaces × 2 dims, 2 cells each
    val cb: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)),
      Seq(Seq(5.0, 5.0), Seq(9.0, 9.0)))
    val df = Seq(
      (Seq(0.1f, 0.2f, 8.0f, 8.0f), Seq(0, 1)),  // near cell0 / cell1
      (Seq(0.9f, 1.1f, 5.1f, 4.8f), Seq(1, 0)),  // near cell1 / cell0
      (Seq(0.5f, 0.5f, 7.0f, 7.0f), Seq(0, 0)))  // equidistant -> low cell
    .map(_._1).toDF("e")
    val got = df.select(
      graft.expressions.PqAssign(col("e"), cb)).as[Seq[Int]].collect()
    assert(got.toSeq == Seq(Seq(0, 1), Seq(1, 0), Seq(0, 0)))
  }

  test("PqAdcDot equals the reconstructed-vector dot product") {
    val cb: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)),
      Seq(Seq(0.5, 0.5), Seq(2.0, 0.0)))
    val df = Seq((Seq(1.0f, 1.0f, 2.0f, 3.0f), Seq(1, 0))).toDF("q", "codes")
    val got = df.select(
      graft.expressions.PqAdcDot(col("q"), col("codes"), cb)).as[Double]
      .collect().head
    // subspace 0 -> cell 1 (3,4): 1*3 + 1*4 = 7; subspace 1 -> cell 0
    // (0.5,0.5): 2*0.5 + 3*0.5 = 2.5
    assert(got == 7.0 + 2.5)
  }

  test("pqCodes covers every (vector, subspace) with codes in range") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val n = emb.count()
    val codes = Similarity.pqCodes(emb, "vec_id", "embedding").collect()
    assert(codes.length == n * 8)
    assert(codes.forall(r => r.getLong(2) >= 0 && r.getLong(2) < 16))
  }

  test("ivfPqTopKBatch: results are a subset of the probed-cell candidates") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val qs = emb.filter(col("vec_id") < 4)
    val ivfpq = Similarity.ivfPqTopKBatch(emb, "vec_id", "embedding",
      qs, "vec_id", k = 10).collect()
    assert(ivfpq.nonEmpty)
    // every (query, hit) must also appear in the pure-PQ ranking's
    // candidate universe scored with the same codebook — the cell
    // restriction can only DROP candidates, never invent scores
    val pq = Similarity.pqTopKBatch(emb, "vec_id", "embedding",
      qs, "vec_id", k = Int.MaxValue / 2)
      .select(col("query_id"), col("vec_id"), col("cos_sim")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    ivfpq.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(pq.contains(key), s"hit $key not scoreable by the PQ model")
      assert(pq(key) == r.getDouble(2), s"ADC score mismatch at $key")
    }
  }

  test("pqTopKBatch: ADC retrieval recovers most exact top-k neighbours") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val qs = emb.filter(col("vec_id") < 4)
    val recall = Similarity.recallAtK(
        Similarity.topKBatch(emb, "vec_id", "embedding", qs, "vec_id", 10),
        Similarity.pqTopKBatch(emb, "vec_id", "embedding", qs, "vec_id", 10),
        "query_id", "vec_id")
      .agg(avg(col("recall"))).as[Double].collect().head
    assert(recall > 0.2, s"PQ recall@10 collapsed: $recall")
  }

  test("native VecDot kernel is bit-identical to the HOF formula of record") {
    val emb = graft.sources.Tables.embeddings(spark, sf).filter(col("vec_id") < 50)
    val q = graft.sources.Tables.embeddings(spark, sf)
      .filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val both = emb.crossJoin(q).select(
      VectorFns.dot(col("embedding"), col("q_emb")).as("native"),
      VectorFns.dotHof(col("embedding"), col("q_emb")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("Similarity.topK: self tops the ranking on real embeddings") {
    val corpus = graft.sources.Tables.embeddings(spark, sf)
    val query = corpus.filter(col("vec_id") === 0)
    val exact = Similarity.topK(corpus, "vec_id", "embedding", query, 10)
      .select("vec_id").as[Long].collect()
    assert(exact.head == 0L) // cos(q, q) = 1.0
    val ann = Similarity.lshTopK(corpus, "vec_id", "embedding", query, 10)
      .select("vec_id").as[Long].collect()
    assert(ann.head == 0L) // self always shares every band with itself
  }

  test("Similarity.ivfTopK finds planted near-duplicates via probed cells") {
    val rnd = new scala.util.Random(7)
    def randVec() = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    def perturb(v: Array[Float]) =
      v.map(x => x + (rnd.nextDouble() * 0.06 - 0.03).toFloat)
    val base = randVec()
    // plant the cluster at ids 100..105 — OUTSIDE the id range the coarse
    // quantizer samples centroids from (0..31): if cluster members are
    // themselves centroids, each becomes its own near-identical cell and
    // nProbe can't cover them all (degenerate quantizer, found by test)
    val rows = (0L to 99L).map(i => (i, randVec())) ++
      Seq((100L, base)) ++ (101L to 105L).map(i => (i, perturb(base))) ++
      (106L to 199L).map(i => (i, randVec()))
    val df = rows.toDF("vec_id", "embedding")
    val query = df.filter(col("vec_id") === 100)
    val ann = Similarity.ivfTopK(df, "vec_id", "embedding", query, 6)
      .select("vec_id").as[Long].collect().toSet
    // the cluster shares the query's nearest cells (cos≈0.998 between
    // members dwarfs any difference in centroid affinity)
    assert(ann == (100L to 105L).toSet, s"planted cluster not recalled: $ann")
  }

  test("Similarity.lshTopK finds planted near-duplicates (ANN regime)") {
    // ANN's job is near-duplicate retrieval (cos ≥ 0.9) — plant a tight
    // cluster in noise and require perfect top-k recall on it. The
    // xxhash64-derived planes are fixed, so this is deterministic.
    val rnd = new scala.util.Random(42)
    def randVec() = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    def perturb(v: Array[Float]) =
      v.map(x => x + (rnd.nextDouble() * 0.06 - 0.03).toFloat)
    val base = randVec()
    val rows = Seq((0L, base)) ++ (1L to 5L).map(i => (i, perturb(base))) ++
      (6L to 199L).map(i => (i, randVec()))
    val df = rows.toDF("vec_id", "embedding")
    val query = df.filter(col("vec_id") === 0)
    val ann = Similarity.lshTopK(df, "vec_id", "embedding", query, 6)
      .select("vec_id").as[Long].collect().toSet
    assert(ann == (0L to 5L).toSet, s"planted cluster not recalled: $ann")
  }

  test("lshNearDupPairs finds all planted near-dup pairs, every pair exact") {
    val rnd = new scala.util.Random(11)
    def randVec() = Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)
    def perturb(v: Array[Float]) =
      v.map(x => x + (rnd.nextDouble() * 0.04 - 0.02).toFloat)
    val base = randVec()
    val rows = (0L to 3L).map(i => (i, if (i == 0) base else perturb(base))) ++
      (4L to 149L).map(i => (i, randVec()))
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.lshNearDupPairs(df, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // all 6 planted pairs recalled (banding recall ~0.9999 at cos >= 0.9)
    assert(got.map(p => (p._1, p._2)).toSet ==
      (for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)).toSet)
    // and every emitted cosine is the exact brute-force value
    val brute = Similarity.nearDupPairs(df, "vec_id", "embedding", 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    got.foreach { case (a, b, c) => assert(brute((a, b)) == c) }
  }

  test("autoRowsPerBand: occupancy curve, graded floor, recall cap") {
    // the measured scale-probe landmarks (BASELINE.md): the graded 8-bit
    // config at the 2k-vector corpus, the measured-good 12 bits at 20k
    assert(Similarity.autoRowsPerBand(2000L) == 8)
    assert(Similarity.autoRowsPerBand(20000L) == 12)
    // floor: tiny corpora stay on the graded band plan
    assert(Similarity.autoRowsPerBand(1L) == 8)
    assert(Similarity.autoRowsPerBand(1000L) == 8)
    // curve continues ~log2(n) above the floor, capped at 20
    assert(Similarity.autoRowsPerBand(1000000L) == 17)
    assert(Similarity.autoRowsPerBand(100000000L) == 20)
    assert(Similarity.autoRowsPerBand(Long.MaxValue / 2) == 20)
    // monotone non-decreasing across the whole range
    val pts = Seq(1L, 32L, 1000L, 8000L, 80000L, 1000000L, 1L << 40)
    assert(pts.map(Similarity.autoRowsPerBand) ==
      pts.map(Similarity.autoRowsPerBand).sorted)
    // and the auto default (rowsPerBand = 0) is the same plan as the
    // pinned graded width for a floor-sized corpus
    val rnd = new scala.util.Random(7)
    val df = (0L to 99L).map(i =>
      (i, Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    val auto = Similarity.lshNearDupPairs(df, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pinned = Similarity
      .lshNearDupPairs(df, "vec_id", "embedding", 0.9, rowsPerBand = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == pinned)
  }

  test("lshNearDupPairsMultiProbe: superset at same width, recall repaired") {
    // real corpus embeddings: hashed documents (the polarized regime
    // where wide bands lose near-threshold pairs)
    val emb = Similarity.hashEmbedRowwise(
      graft.sources.Tables.documents(spark, sf), "doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val single = pairSet(Similarity.lshNearDupPairs(
      emb, "doc_id", "embedding", threshold = 0.8, rowsPerBand = 12))
    val multi = pairSet(Similarity.lshNearDupPairsMultiProbe(
      emb, "doc_id", "embedding", threshold = 0.8, rowsPerBand = 12))
    // exact keys are among the probes: multi-probe can only add pairs
    assert(single.subsetOf(multi),
      s"multi-probe lost ${(single -- multi).size} single-probe pairs")
    // flips = 0 degenerates to exactly the single-probe candidate set
    val exactOnly = pairSet(Similarity.lshNearDupPairsMultiProbe(
      emb, "doc_id", "embedding", threshold = 0.8, rowsPerBand = 12,
      flips = 0))
    assert(exactOnly == single)
    // and every emitted cosine is the true cosine (verify is exact):
    // multi-probe output against the brute-force pairs at the threshold
    val brute = pairSet(Similarity.nearDupPairs(
      emb, "doc_id", "embedding", threshold = 0.8))
    assert(multi.subsetOf(brute))
    val recallSingle = single.size.toDouble / brute.size
    val recallMulti = multi.size.toDouble / brute.size
    info(f"recall at 12-bit bands: single $recallSingle%.3f -> " +
      f"multi-probe $recallMulti%.3f (brute ${brute.size} pairs)")
    assert(recallMulti >= recallSingle)
    assert(recallMulti >= 0.95,
      f"multi-probe recall $recallMulti%.3f below 0.95 on the corpus")
  }

  test("nearDupPairsAuto: widens AND multi-probes on the polarized corpus") {
    val emb = Similarity.hashEmbedRowwise(
      graft.sources.Tables.documents(spark, sf), "doc_id", "text")
    // the width decision the composite makes internally (drift-guard
    // already pins >= 12 on this corpus, i.e. the multi-probe branch)
    val n = math.max(emb.count(), 1L)
    val volumeW = Similarity.biasAwareRowsPerBand(n,
      Similarity.planeAgreeProbs(emb, "embedding", n))
    assert(volumeW > 8,
      s"fixture no longer polarized (w=$volumeW); test needs a new corpus")
    // the recall constraint caps the volume knob: at threshold 0.8 the
    // widest 1-flip width holding 0.9 banding recall is 12 (this corpus
    // measured 0.811 recall at the uncapped 17 — the failure that
    // forced the cap into the composite)
    val w = math.min(volumeW, Similarity.recallCapRowsPerBand(0.8, 0.9))
    assert(w > 8 && w <= 12, s"composite width $w outside the expected band")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val auto = pairSet(Similarity.nearDupPairsAuto(
      emb, "doc_id", "embedding", threshold = 0.8))
    val brute = pairSet(Similarity.nearDupPairs(
      emb, "doc_id", "embedding", threshold = 0.8))
    assert(auto.subsetOf(brute)) // exact verify: never a wrong pair
    val recall = auto.size.toDouble / brute.size
    info(f"auto (width $w + multi-probe) recall vs brute: $recall%.3f")
    assert(recall >= 0.95,
      f"auto recall $recall%.3f below 0.95 — probing failed to repair the widening")
  }

  test("nearDupPairsAuto floor branch: probes at 8 when the plain curve misses") {
    // unpolarized random corpus -> volume width = the 8-bit floor; the
    // branch taken then depends on the NO-probe curve at 8 bits (the
    // plan that actually runs), not the probed curve the cap models
    val rnd = new scala.util.Random(11)
    val df = (0L to 199L).map(i =>
      (i, Array.fill(64)((rnd.nextDouble() - 0.5).toFloat)))
      .toDF("vec_id", "embedding")
    def pairSet(d: org.apache.spark.sql.DataFrame) =
      d.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // theta 0.9, target 0.9: plain 16x8 banding predicts ~0.996 -> the
    // plain plan is kept (bit-identical to the pinned 8-bit path)
    assert(Similarity.bandingRecall(0.9, 8, flips = 0) >= 0.9)
    assert(pairSet(Similarity.nearDupPairsAuto(df, "vec_id", "embedding",
      threshold = 0.9, recallTarget = 0.9)) ==
      pairSet(Similarity.lshNearDupPairs(df, "vec_id", "embedding", 0.9,
        rowsPerBand = 8)))
    // theta 0.4, target 0.99: even probed 8-bit banding cannot hold the
    // target (the f(0.3, 0.99)-style fallback regime) and the plain
    // curve sits far lower still -> the floor now PROBES instead of
    // silently shipping the weaker plain plan (ADVICE round-13)
    assert(Similarity.bandingRecall(0.4, 8, flips = 0) < 0.99)
    assert(Similarity.recallCapRowsPerBand(0.4, 0.99) == 8)
    val autoLow = pairSet(Similarity.nearDupPairsAuto(df, "vec_id",
      "embedding", threshold = 0.4, recallTarget = 0.99))
    assert(autoLow == pairSet(Similarity.lshNearDupPairsMultiProbe(df,
      "vec_id", "embedding", threshold = 0.4, rowsPerBand = 8)))
    // the probed floor dominates the plain floor it replaced
    assert(pairSet(Similarity.lshNearDupPairs(df, "vec_id", "embedding",
      0.4, rowsPerBand = 8)).subsetOf(autoLow))
  }

  test("biasAwareRowsPerBand: occupancy curve unbiased; widens under bias") {
    // unbiased planes (agree prob exactly 1/2): reduces to the occupancy
    // curve at every design point — the calibrated landmarks hold
    val unbiased = IndexedSeq.fill(128)(0.5)
    for (n <- Seq(1L, 1000L, 2000L, 20000L, 1000000L, 100000000L))
      assert(Similarity.biasAwareRowsPerBand(n, unbiased) ==
        Similarity.autoRowsPerBand(n), s"diverged at n=$n")
    // polarized planes (bit bias 0.8 -> agree 0.68) widen past the floor
    val biased = IndexedSeq.fill(128)(0.8 * 0.8 + 0.2 * 0.2)
    assert(Similarity.biasAwareRowsPerBand(2000L, biased) > 8)
    // degenerate planes (every row agrees) hit the recall cap, no loop
    assert(Similarity.biasAwareRowsPerBand(2000L, IndexedSeq.fill(128)(1.0)) == 20)
    // and the width never sits below the occupancy floor
    assert(Similarity.biasAwareRowsPerBand(1000000L, unbiased) >= 17)
  }

  test("q154 drift guard: bias-aware auto resolves >= 12 bits on documents") {
    // q154 pins rowsPerBand = 12 (the oracle restates the 10x12 banding).
    // This guard asserts the MEASURED auto sizing on the same corpus
    // resolves at least that wide — if testdata or the hash-embedding
    // drifts enough that auto would choose narrower, the pinned 12 is no
    // longer the documented-safe width and this fails loudly instead of
    // q154 silently re-entering the saturated 19.9 s regime.
    val emb = Similarity.hashEmbedRowwise(
      graft.sources.Tables.documents(spark, sf), "doc_id", "text")
    val n = math.max(emb.count(), 1L)
    val agree = Similarity.planeAgreeProbs(emb, "embedding")
    // shared-vocabulary corpus: hash planes are measurably polarized
    assert(agree.count(a => a > 0.55) > 32,
      s"expected polarized planes, got ${agree.count(_ > 0.55)} above 0.55")
    val w = Similarity.biasAwareRowsPerBand(n, agree)
    assert(w >= 12, s"auto resolved $w bits; q154's pinned 12 is now stale")
  }

  test("q160 drift guard: the composite resolves 12-bit multi-probe") {
    // q160's oracle restates 10x12 banding + 1-flip probes; this guard
    // asserts the FromSig resolution (count + sig-column biases + the
    // theta=0.8/0.9 recall cap) lands exactly there on this corpus, and
    // that the composite's output IS the 12-bit multi-probe output —
    // the strongest "multi-probe engaged" evidence a plan can't fake
    val sigF = graft.queries.SharedFrames.hashEmbSignatures(spark, sf)
    val n = math.max(sigF.count(), 1L)
    val volumeW = Similarity.biasAwareRowsPerBand(n,
      Similarity.planeAgreeProbsFromSig(sigF, n))
    assert(volumeW >= 12,
      s"FromSig volume knob resolved $volumeW; q160's oracle 12 is stale")
    assert(Similarity.recallCapRowsPerBand(0.8, 0.9) == 12)
    def pairSet(d: org.apache.spark.sql.DataFrame) =
      d.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val auto = pairSet(Similarity.nearDupPairsAutoFromSig(sigF,
      threshold = 0.8, recallTarget = 0.9))
    val pinned = pairSet(Similarity.lshNearDupPairsMultiProbeFromSig(sigF,
      threshold = 0.8, rowsPerBand = 12))
    assert(auto == pinned,
      "composite output diverged from the pinned 12-bit multi-probe plan")
  }

  // -------------------------------------------------------- sessionization

  test("Sessionize.assign splits on gap > threshold with tie-break") {
    val df = Seq(
      // user 1: events at t=0s, 10s, 1000s -> sessions 1,1,2 (gap 100s)
      (1L, 0L, 1L), (1L, 10000000L, 2L), (1L, 1000000000L, 3L),
      // user 2: single event
      (2L, 0L, 4L)).toDF("uid", "us", "eid")
      .withColumn("ts", timestamp_micros(col("us")))
    val got = Sessionize.assign(df, "uid", "ts", "eid", gapUs = 100000000L)
      .select("eid", "session_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("Sessionize.gapStats: max gap and over-threshold count") {
    val df = Seq(
      (1L, 0L, 1L), (1L, 5000000L, 2L), (1L, 20000000L, 3L)).toDF("uid", "us", "eid")
      .withColumn("ts", timestamp_micros(col("us")))
    val r = Sessionize.gapStats(df, "uid", "ts", "eid", thresholdUs = 10000000L)
      .collect().head
    assert(r.getLong(1) == 15000000L) // max gap 15s
    assert(r.getLong(2) == 1L) // one gap over 10s
  }

  // ------------------------------------------------------------ multimodal

  test("packText: payload bytes + metadata struct round-trip") {
    val df = Seq((7L, "abc")).toDF("id", "t")
    val r = Multimodal.packText(df, "id", "t").collect().head
    assert(r.getAs[Array[Byte]]("payload").toSeq == "abc".getBytes("UTF-8").toSeq)
    val meta = r.getStruct(2)
    assert(meta.getAs[String]("format") == "text/plain")
    assert(meta.getAs[Long]("n_bytes") == 3L)
  }

  test("packBmp emits a genuine BMP file a stock JDK reader opens") {
    val df = Seq((1L, "abc"), (2L, "x" * 100)).toDF("id", "t")
    val rows = Multimodal.packBmp(df, "id", "t").orderBy("id").collect()
    rows.zip(Seq(1, 5)).foreach { case (r, expectH) =>
      val bytes = r.getAs[Array[Byte]]("payload")
      assert(r.getStruct(2).getAs[String]("format") == "image/bmp")
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(img != null, "JDK BMP reader rejected the payload")
      assert(img.getWidth == 8 && img.getHeight == expectH)
    }
  }

  test("decodeImageFeatures: real BMP header parse + pixel byte mean") {
    val df = Seq((1L, "abc")).toDF("id", "t") // bytes 97 98 99, 1 row of 24
    val r = Multimodal.decodeImageFeatures(
      Multimodal.packBmp(df, "id", "t"), "id").collect().head
    assert(r.getString(1) == "bmp")
    assert(r.getInt(2) == 8)  // header width
    assert(r.getInt(3) == 1)  // 3 bytes -> 1 zero-padded 24-byte row
    assert(r.getInt(4) == 3)  // 24 bpp -> 3 channels
    assert(r.getDouble(5) == (97 + 98 + 99) / 24.0) // padding counted
  }

  test("packJfif emits a marker stream the stock JDK JPEG reader parses") {
    // texts chosen so the COM segment length (bytes mod 13) differs per
    // row — SOF0 sits at a different offset in each payload
    val df = Seq((1L, "abc"), (2L, "x" * 100), (3L, "y" * 37)).toDF("id", "t")
    val rows = Multimodal.packJfif(df, "id", "t").orderBy("id").collect()
    rows.zip(Seq(1, 7, 3)).foreach { case (r, expectH) =>
      val bytes = r.getAs[Array[Byte]]("payload")
      assert(r.getStruct(2).getAs[String]("format") == "image/jpeg")
      // header-only read: the JDK reader walks the marker stream to SOF0
      // without touching the (synthetic) entropy data
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      assert(readers.hasNext, "JDK found no reader for the payload")
      val reader = readers.next()
      reader.setInput(iis)
      assert(reader.getFormatName.toLowerCase.contains("jpeg"))
      assert(reader.getWidth(0) == 16 && reader.getHeight(0) == expectH)
      reader.dispose()
    }
  }

  test("decodeImageFeatures: JPEG marker walk to SOF0 across COM offsets") {
    val df = Seq((1L, "abc"), (2L, "x" * 100), (3L, "ÿ" * 5)).toDF("id", "t")
    val rows = Multimodal.decodeImageFeatures(
      Multimodal.packJfif(df, "id", "t"), "id").orderBy("id").collect()
    // "ÿ"*5 is 10 UTF-8 bytes (C3 BF each) -> height 1; exercises
    // the FF-stuffing path in synthesis without breaking the walk
    rows.zip(Seq(1, 7, 1)).foreach { case (r, expectH) =>
      assert(r.getString(1) == "jpeg")
      assert(r.getInt(2) == 16 && r.getInt(3) == expectH)
      assert(r.getInt(4) == 3)   // 3 components
      assert(r.isNullAt(5))      // entropy-coded pixels -> no byte stats
    }
  }

  test("JPEG walk robustness: truncation, no-SOF, lost sync, SOF2, RSTn") {
    import graft.expressions.ImageFeatures
    val full = Multimodal.packJfif(
        Seq((1L, "hello world")).toDF("id", "t"), "id", "t")
      .collect().head.getAs[Array[Byte]]("payload")
    def one(b: Array[Byte]) = Seq(Tuple1(b)).toDF("p")
      .select(ImageFeatures(col("p")).as("f")).collect().head
    val sofAt = full.indexOfSlice(Seq(0xff.toByte, 0xc0.toByte))
    assert(sofAt > 2)
    // truncated before SOF completes -> null, never throws
    assert(one(full.take(sofAt + 4)).isNullAt(0))
    // SOI alone -> null
    assert(one(Array(0xff.toByte, 0xd8.toByte)).isNullAt(0))
    // lost marker sync (non-FF where a marker must start) -> null
    val bad = full.clone(); bad(2) = 0x00
    assert(one(bad).isNullAt(0))
    // progressive SOF2 parses identically (same SOFn payload layout)
    val prog = full.clone(); prog(sofAt + 1) = 0xc2.toByte
    val progRow = one(prog).getStruct(0)
    assert(progRow.getString(0) == "jpeg" && progRow.getInt(1) == 16)
    // standalone RSTn + TEM markers before SOF are stepped over
    val injected = full.take(2) ++
      Array(0xff.toByte, 0xd0.toByte, 0xff.toByte, 0x01.toByte) ++
      full.drop(2)
    val rstRow = one(injected).getStruct(0)
    assert(rstRow.getString(0) == "jpeg" && rstRow.getInt(1) == 16)
  }

  test("decodeImageFeatures: PNG IHDR parse; unknown bytes decode null") {
    // hand-built PNG prefix: signature + IHDR length/type + 37x19,
    // bit depth 8, color type 6 (RGBA)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 0, 37, 0, 0, 0, 19, 8, 6, 0, 0, 0)
    val df = Seq((1L, png), (2L, "not an image".getBytes)).toDF("id", "payload")
    val rows = Multimodal.decodeImageFeatures(
      df.withColumn("meta", struct(lit("image/png").as("format"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("checksum"))), "id").orderBy("id").collect()
    assert(rows(0).getString(1) == "png")
    assert(rows(0).getInt(2) == 37 && rows(0).getInt(3) == 19)
    assert(rows(0).getInt(4) == 4)      // RGBA
    assert(rows(0).isNullAt(5))         // compressed pixels -> no byte stats
    assert(rows(1).isNullAt(1))         // unrecognized payload -> null row
  }

  test("ImageBlockHash: deterministic, perturbation-local, null on non-BMP") {
    val texts = Seq(
      (1L, "a" * 48),                 // constant bytes -> no block above mean
      (2L, "abc " * 30),              // structured doc
      (3L, "abc " * 29 + "abcQ"),     // one byte perturbed vs 2
      (4L, "." * 60 + "z" * 60))      // structurally different: low half,
                                      // high half (a perceptual hash pairs
                                      // same-STRUCTURE images — "zyx "*30
                                      // would rightly pair with "abc "*30)
    val packed = Multimodal.packBmp(texts.toDF("id", "t"), "id", "t")
    val sigs = packed.select(col("id"),
        graft.expressions.ImageBlockHash(col("payload")).as("sig"))
      .orderBy("id").as[(Long, Long)].collect().toMap
    assert(sigs(1L) == 0L)            // constant image hashes to 0
    assert(sigs.values.forall(s => s >= 0L && s < (1L << 60)))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // a one-byte change moves few block means past the global mean
    assert(ham(sigs(2L), sigs(3L)) <= 4)
    // non-BMP payload hashes to null
    val n = Seq(Tuple1("not a bmp".getBytes)).toDF("payload")
      .select(graft.expressions.ImageBlockHash(col("payload"))).collect().head
    assert(n.isNullAt(0))
    // the pair path pairs the perturbed twin, not the unrelated doc
    val pairs = graft.operators.Dedup.imageNearDupPairs(
        packed, "id", "payload", maxHamming = 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.exists(p => p._1 == 2L && p._2 == 3L))
    assert(!pairs.exists(p => p._2 == 4L || p._1 == 4L))
  }

  test("PcmFrameStats: hand-computed moments and mean crossings") {
    // bytes 97 98 32 97: sum 324, energy 29446; above-mean pattern
    // T T F T -> 2 crossings. Empty frame -> all zeros.
    val df = Seq((1L, "ab a".getBytes), (2L, Array.empty[Byte]))
      .toDF("id", "frame")
    val got = df.select(col("id"),
        graft.expressions.PcmFrameStats(col("frame")).as("s"))
      .orderBy("id")
      .select(col("s.n_samples"), col("s.sum_amp"), col("s.energy"),
        col("s.mean_crossings"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((4L, 324L, 29446L, 2L), (0L, 0L, 0L, 0L)))
    // null payload -> null struct
    val n = Seq(Tuple1(null.asInstanceOf[Array[Byte]])).toDF("frame")
      .select(graft.expressions.PcmFrameStats(col("frame"))).collect().head
    assert(n.isNullAt(0))
  }

  test("contrastivePairs: best same/other-label neighbors, null positive") {
    // 2-d unit-ish vectors: anchor 0 (label A) is closest to 1 (A) among
    // same-label and to 2 (B) among other-label; 4 has a unique label.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),   // same label, very close
      (2L, Array(0.8f, 0.3f), 1),   // other label, close
      (3L, Array(-1.0f, 0.0f), 1),  // other label, opposite
      (4L, Array(0.0f, 1.0f), 2)    // unique label
    ).toDF("vec_id", "embedding", "label")
    val got = graft.operators.Similarity.contrastivePairs(
        emb, "vec_id", "embedding", "label",
        emb.filter($"vec_id".isin(0L, 4L)))
      .orderBy("anchor_id").collect()
    val a0 = got(0)
    assert(a0.getLong(0) == 0L)
    assert(a0.getLong(a0.fieldIndex("pos_id")) == 1L)
    assert(a0.getLong(a0.fieldIndex("neg_id")) == 2L)
    // positive is closer than the hard negative -> positive margin
    assert(a0.getDouble(a0.fieldIndex("margin")) > 0.0)
    val a4 = got(1)
    assert(a4.getLong(0) == 4L)
    assert(a4.isNullAt(a4.fieldIndex("pos_id"))) // unique label: no positive
    assert(!a4.isNullAt(a4.fieldIndex("neg_id")))
  }

  test("q113 calibration: cal spans [0,1] per source, deciles in range") {
    val got = SparkEntry.queries("q113_quality_calibrate")(spark, sf)
    val perSource = got.groupBy("source")
      .agg(min("cal").as("mn"), max("cal").as("mx"),
        min("decile").as("dmn"), max("decile").as("dmx"),
        count(lit(1)).as("n"))
      .collect()
    assert(perSource.nonEmpty)
    perSource.foreach { r =>
      assert(r.getDouble(r.fieldIndex("mn")) == 0.0)
      if (r.getLong(r.fieldIndex("n")) > 1)
        assert(r.getDouble(r.fieldIndex("mx")) == 1.0)
      assert(r.getLong(r.fieldIndex("dmn")) >= 0L &&
        r.getLong(r.fieldIndex("dmx")) <= 9L)
    }
  }

  test("winnowFingerprints: hash contract, rightmost-min, short docs, guarantee") {
    import graft.expressions.{Md5Hash60, WinnowFingerprints, WordNGrams}
    // hash contract: selected hashes are Md5Hash60 of the selected gram
    val one = Seq("a b c").toDF("t")   // one gram → one whole-list window
    val got = one.select(
      explode(WinnowFingerprints(WordNGrams(TextFns.tokens(col("t")), 3), 4))
        .as("fp"))
      .select(col("fp.pos"), col("fp.hash")).collect()
    val h = one.select(Md5Hash60(lit("a b c"))).collect().head.getLong(0)
    assert(got.toSeq.map(r => (r.getInt(0), r.getLong(1))) == Seq((0, h)))
    // a repeated gram ties on hash → rightmost occurrence selected
    val rep = Seq("x y x y x y").toDF("t") // grams: xyx yxy xyx yxy
    val selRep = rep.select(
      explode(WinnowFingerprints(WordNGrams(TextFns.tokens(col("t")), 3), 4))
        .as("fp")).select(col("fp.pos")).collect().map(_.getInt(0)).toSeq
    // one window over 4 grams; min hash appears at two positions →
    // rightmost of the tied pair (pos 2 or 3, never 0 or 1)
    assert(selRep.length == 1 && selRep.head >= 2)
    // fewer tokens than k → no grams → no fingerprints; null text → none
    val short = Seq((1L, "a b"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    assert(Dedup.winnowFingerprints(short, "doc_id", "text").count() == 0)
    // winnowing guarantee: docs sharing a w+k-1 = 6-token run share a
    // fingerprint
    val docs = Seq(
      (1L, "p q r s t u completely unrelated tail one"),
      (2L, "different head words p q r s t u")).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, "doc_id", "text")
    val shared = fps.filter(col("doc_id") === 1L).select("fp_hash")
      .intersect(fps.filter(col("doc_id") === 2L).select("fp_hash"))
    assert(shared.count() >= 1)
  }

  test("winnowOverlap: near-dup pair found, df-cap drops boilerplate") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "totally different content with no shared runs at all here"))
      .toDF("doc_id", "text")
    val got = Dedup.winnowOverlap(docs, "doc_id", "text").collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getLong(2) >= 2L) // long shared prefix → several shared fps
    assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
    // dfCap = 1 drops every fingerprint shared by 2+ docs → no pairs
    assert(Dedup.winnowOverlap(docs, "doc_id", "text", dfCap = 1).count() == 0)
  }

  test("stupidBackoff: bigram path, backoff path, short docs omitted") {
    import graft.operators.Curation
    // model: "a b a b" → uni: a=2 b=2 (N=4, V=2); bigrams: "a b"=2, "b a"=1
    val model = Seq("a b a b").toDF("text")
    val docs = Seq(
      (1L, "a b"),     // one position: S = c("a b")/c(a) = 2/2 = 1 → ln 1 = 0
      (2L, "a z"),     // backoff: z unseen → 0.4 * (0+1)/(4+2) = 1/15
      (3L, "a"),       // single token → no position → omitted
      (4L, "b a b")    // "b a": 1/2; "a b": 2/2 → mean ln = (ln .5 + 0)/2
    ).toDF("doc_id", "text")
    val got = Curation.stupidBackoff(docs, "doc_id", "text", model, "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(!got.contains(3L))
    assert(got(1L) == ((1L, 0L, 0.0)))
    assert(got(2L)._1 == 1L && got(2L)._2 == 1L)
    assert(math.abs(got(2L)._3 - math.log(0.4 * 1 / 6.0)) < 1e-6)
    assert(got(4L)._1 == 2L && got(4L)._2 == 0L)
    assert(math.abs(got(4L)._3 - math.log(0.5) / 2) < 1e-6)
  }

  test("sourceDivergence: hand-computed JSD, disjoint pair at ln 2") {
    import graft.operators.Curation
    val docs = Seq(
      ("A", "x x y"),   // p: x=2/3, y=1/3
      ("B", "x z z"),   // q: x=1/3, z=2/3
      ("C", "w w")      // disjoint from both
    ).toDF("source", "text")
    val got = Curation.sourceDivergence(docs, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got.size == 3) // full matrix incl. disjoint pairs
    // shared x: (1/3)ln(4/3) + (1/6)ln(2/3); exclusive mass y + z
    val jc = (1.0 / 3) * math.log(4.0 / 3) + (1.0 / 6) * math.log(2.0 / 3)
    val expAB = jc + 0.5 * math.log(2.0)
    assert(got(("A", "B"))._1 == 1L)
    assert(math.abs(got(("A", "B"))._2 - expAB) < 1e-6)
    // vocabulary-disjoint pairs sit exactly at ln 2
    assert(got(("A", "C"))._1 == 0L)
    assert(math.abs(got(("A", "C"))._2 - math.log(2.0)) < 1e-6)
    assert(math.abs(got(("B", "C"))._2 - math.log(2.0)) < 1e-6)
    // identical distributions → 0
    val same = Seq(("A", "x y"), ("B", "y x")).toDF("source", "text")
    val z = Curation.sourceDivergence(same, "source", "text")
      .collect().head
    assert(z.getDouble(3) == 0.0)
  }

  test("meanPool: hand-computed mean + unit norm, zero-group guard") {
    val emb = Seq(
      (0L, 0L, Array(3.0f, 0.0f)),
      (1L, 0L, Array(1.0f, 2.0f)),   // grp 0 mean = (2, 1), norm = sqrt 5
      (2L, 1L, Array(0.0f, 0.0f))    // grp 1 pools to zero vector
    ).toDF("vec_id", "grp", "embedding")
    val got = Similarity.meanPool(emb, "grp", "embedding", "vec_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getSeq[Double](2)))).toMap
    assert(got(0L)._1 == 2L)
    val n5 = math.sqrt(5.0)
    assert(math.abs(got(0L)._2(0) - 2.0 / n5) < 1e-6)
    assert(math.abs(got(0L)._2(1) - 1.0 / n5) < 1e-6)
    assert(got(1L) == ((1L, Seq(0.0, 0.0))))
  }

  test("pcaTopComponent recovers a rank-1 direction exactly") {
    // points t·(0.6, 0.8, 0, 0), t ∈ {−2,−1,1,2}: mean 0, covariance is
    // rank-1 with eigenvector (0.6, 0.8, 0, 0) and λ = mean(t²) = 2.5
    val emb = Seq(-2.0f, -1.0f, 1.0f, 2.0f).zipWithIndex.map {
      case (t, i) => (i.toLong, Array(0.6f * t, 0.8f * t, 0.0f, 0.0f))
    }
    val got = Similarity.pcaTopComponent(
        emb.toDF("vec_id", "embedding"), "embedding", dim = 4)
      .orderBy("pos").as[(Long, Double, Double, Double)].collect()
    assert(got.length == 4)
    val loadings = got.map(_._2)
    assert(math.abs(math.abs(loadings(0)) - 0.6) < 1e-4, loadings.toSeq)
    assert(math.abs(math.abs(loadings(1)) - 0.8) < 1e-4)
    assert(math.abs(loadings(2)) < 1e-4 && math.abs(loadings(3)) < 1e-4)
    assert(math.abs(got.head._3 - 2.5) < 1e-3, s"eigenvalue ${got.head._3}")
    assert(math.abs(got.head._4 - 1.0) < 1e-4, s"share ${got.head._4}")
    // deterministic under repartition (exact-integer moment sums)
    val again = Similarity.pcaTopComponent(
        emb.toDF("vec_id", "embedding").repartition(3), "embedding", dim = 4)
      .orderBy("pos").as[(Long, Double, Double, Double)].collect()
    assert(again.toSeq == got.toSeq)
  }

  test("containmentPairs: subset dup found where Jaccard misses, cap honored") {
    import graft.operators.Dedup
    val small = (1 to 5).map(i => s"tok$i").mkString(" ")           // 3 shingles
    val big = (1 to 40).map(i => s"tok$i").mkString(" ")            // 38 shingles
    val docs = Seq((1L, small), (2L, big), (3L, "zz yy xx ww vv"))
      .toDF("doc_id", "text")
    // doc 1 ⊂ doc 2: containment = 1.0 while jaccard = 3/38 ≈ 0.08
    val got = Dedup.containmentPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 1.0)), got)
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5).count()
    assert(jac == 0, "sanity: symmetric Jaccard misses the subset pair")
    // dfCap: with every shared shingle over-cap, the pair disappears
    // (dfCap floor is 2, so replicate the pair to push df over a cap of 2)
    val many = (1L to 6L).map(i => (i, small)).toDF("doc_id", "text")
    val capped = Dedup.containmentPairs(many, "doc_id", "text",
        n = 3, threshold = 0.9, dfCap = 2)
    assert(capped.count() == 0, "all shared shingles have df 6 > cap 2")
  }

  test("multi-probe LSH: candidate superset of single-probe, recall never lower") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val qs = emb.filter(col("vec_id") < 8)
    val k = 10
    val exact = Similarity.topKBatch(emb, "vec_id", "embedding", qs, "vec_id", k)
    def recalls(approx: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      Similarity.recallAtK(exact, approx, "query_id", "vec_id")
        .select(col("query_id"), col("recall"))
        .as[(Long, Double)].collect().toMap
    val single = recalls(
      Similarity.lshTopKBatch(emb, "vec_id", "embedding", qs, "vec_id", k))
    val multi = recalls(
      Similarity.lshMultiProbeTopKBatch(emb, "vec_id", "embedding", qs, "vec_id", k))
    assert(multi.keySet == single.keySet)
    // the probe set contains p = 0 (the unperturbed band), so multi-probe
    // candidates are a strict superset and per-query recall can only rise
    single.foreach { case (q, r) =>
      assert(multi(q) >= r, s"query $q: multi ${multi(q)} < single $r")
    }
  }

  test("debiasTopComponent: removes the top component, preserves the rest") {
    // corpus t·u + s·w with u=(0.6,0.8,0,0), w=(0,0,1,0) and
    // var(t)=2.5 ≫ var(s): the top component is u, so debiasing must
    // zero the u-direction and keep the mean-centered w-direction.
    // s is chosen with Σs = 0 AND Σt·s = 0 so cov(t,s) = 0 — otherwise
    // the true top eigenvector tilts into w and the expectation is wrong
    val pts = Seq((-2.0f, 0.1f), (-1.0f, -0.1f), (1.0f, -0.1f), (2.0f, 0.1f))
    val emb = pts.zipWithIndex.map { case ((t, s), i) =>
      (i.toLong, Array(0.6f * t, 0.8f * t, s, 0.0f))
    }
    val got = Similarity.debiasTopComponent(
        emb.toDF("vec_id", "embedding"), "vec_id", "embedding", dim = 4)
      .orderBy("vec_id").as[(Long, Seq[Double])].collect()
    assert(got.length == 4)
    got.foreach { case (_, d) =>
      val du = d(0) * 0.6 + d(1) * 0.8
      assert(math.abs(du) < 1e-3, s"u-component survives debiasing: $d")
    }
    val sMean = pts.map(_._2.toDouble).sum / pts.length
    got.zip(pts).foreach { case ((_, d), (_, s)) =>
      assert(math.abs(d(2) - (s - sMean)) < 1e-3, s"w-component wrong: $d")
    }
    // corpus-wide the debiased cloud is mean-zero in every dimension
    val mean = got.toSeq.map(_._2).transpose.map(c => c.sum / got.length)
    mean.foreach(mi => assert(math.abs(mi) < 1e-3, mean.toSeq))
  }

  test("hubness: k-occurrence census, self excluded, deterministic rank") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.7f, 0.7f, 0.0f, 0.0f)), // near BOTH queries — the hub
      (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 2)
    // k=1: both queries' single nearest (self excluded) is vector 2
    val k1 = Similarity.hubness(emb, "vec_id", "embedding",
        queries, "vec_id", k = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(k1 == Seq((2L, 2L, 1L)), k1)
    // k=3 covers every non-self candidate: q0 hits {1,2,3}, q1 hits
    // {0,2,3} → counts 2:2, 3:2, 0:1, 1:1; rank by (n_hits DESC, id)
    val k3 = Similarity.hubness(emb, "vec_id", "embedding",
        queries, "vec_id", k = 3)
      .orderBy("hub_rank").as[(Long, Long, Long)].collect().toSeq
    assert(k3 == Seq((2L, 2L, 1L), (3L, 2L, 2L), (0L, 1L, 3L), (1L, 1L, 4L)), k3)
  }

  test("randomProject: hash-sign fold matches, norms roughly preserved") {
    import graft.expressions.Md5Hash60
    val x = Array.tabulate(8)(i => (i + 1) * 0.5f)
    val emb = Seq((1L, x)).toDF("vec_id", "embedding")
    val got = Similarity.randomProject(emb, "vec_id", "embedding",
        inDim = 8, outDim = 4)
      .select(col("proj")).head.getSeq[Double](0)
    assert(got.length == 4)
    // recompute dimension 0 with the same hash parity and fold order
    val expected0 = {
      var s = 0.0
      for (i <- 0 until 8) {
        val sign = if (Md5Hash60.hash60(s"rp:0:$i") % 2 == 0) 1.0 else -1.0
        s += sign * x(i).toDouble
      }
      math.floor(s / math.sqrt(4.0) * 1e6 + 0.5) / 1e6
    }
    assert(got.head == expected0)
    // JL sanity on the corpus: projected norms within a loose factor
    val embs = graft.sources.Tables.embeddings(spark, sf).limit(20)
    val pn = Similarity.randomProject(embs, "vec_id", "embedding", 64, 16)
      .select(sqrt(VectorFns.dot(col("proj"), col("proj"))).as("np"),
        col("vec_id"))
      .join(embs.select(col("vec_id"),
        sqrt(VectorFns.dot(col("embedding"), col("embedding"))).as("n")),
        "vec_id")
      .select((col("np") / col("n")).as("ratio")).as[Double].collect()
    pn.foreach(r => assert(r > 0.3 && r < 3.0, s"norm ratio $r"))
  }

  test("prototypicality: planted cells, hard examples kept, easy pruned") {
    // Two planted directions; seeds = lowest-id vectors (ids 1, 2).
    // Within cell 1: id 1 (the seed, cent_sim 1.0) is MOST prototypical,
    // id 5 (slightly rotated) is least — with keepFrac 0.5 over 4
    // members, ranks 0, 1/3, 2/3, 1 → only ranks < 0.5 survive.
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.99f, 0.01f, 0.0f)),
      (4L, Array(0.98f, 0.02f, 0.0f)),
      (5L, Array(0.80f, 0.20f, 0.0f)),
      (6L, Array(0.01f, 0.99f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.prototypicality(emb, "vec_id", "embedding",
      keepFrac = 0.5, nCells = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(3), r.getLong(4)))).toMap
    assert(got(1L)._1 == 1L && got(3L)._1 == 1L &&
      got(4L)._1 == 1L && got(5L)._1 == 1L)
    assert(got(2L)._1 == 2L && got(6L)._1 == 2L)
    // cell 1 ascending cent_sim: 5 < 4 < 3 < 1 → ranks 0, 1/3, 2/3, 1
    assert(got(5L)._2 == 0.0 && got(5L)._3 == 1L)
    assert(math.abs(got(4L)._2 - 1.0 / 3) < 1e-12 && got(4L)._3 == 1L)
    assert(math.abs(got(3L)._2 - 2.0 / 3) < 1e-12 && got(3L)._3 == 0L)
    assert(got(1L)._2 == 1.0 && got(1L)._3 == 0L)
    // cell 2: two members → ranks 0 and 1; the seed (most prototypical)
    // is pruned, the harder example kept
    assert(got(6L)._2 == 0.0 && got(6L)._3 == 1L)
    assert(got(2L)._2 == 1.0 && got(2L)._3 == 0L)
  }

  test("knnPredict: majority vote, self-exclusion, smaller-label tiebreak") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 9),  // query; own label never voted (self excluded)
      (1L, Array(0.9f, 0.1f), 5),
      (2L, Array(0.8f, 0.2f), 3),
      (3L, Array(0.7f, 0.3f), 5),
      (4L, Array(-1.0f, 0.0f), 7)
    ).toDF("vec_id", "embedding", "label")
    val q = emb.filter($"vec_id" === 0L)
    // k=3: neighbors 1,2,3 -> votes {5:2, 3:1} -> pred 5, conf 2/3, wrong
    val r3 = graft.operators.Similarity.knnPredict(
      emb, "vec_id", "embedding", "label", q, k = 3).collect().head
    assert(r3.getLong(r3.fieldIndex("pred_label")) == 5L)
    assert(r3.getLong(r3.fieldIndex("votes")) == 2L)
    assert(math.abs(r3.getDouble(r3.fieldIndex("conf")) - 2.0 / 3) < 1e-15)
    assert(!r3.getBoolean(r3.fieldIndex("correct")))
    // k=2: neighbors 1,2 -> votes {5:1, 3:1} tie -> smaller label 3 wins
    val r2 = graft.operators.Similarity.knnPredict(
      emb, "vec_id", "embedding", "label", q, k = 2).collect().head
    assert(r2.getLong(r2.fieldIndex("pred_label")) == 3L)
  }

  test("MmrRerank kernel: greedy selection trades relevance for diversity") {
    import graft.expressions.MmrRerank
    // A (id 1) most relevant; B (id 2) is A's exact duplicate; C (id 3)
    // orthogonal. Pure relevance would pick [A, B]; MMR must pick C second.
    val cands = array(
      struct(lit(1L), lit(0.9), typedLit(Array(1.0f, 0.0f))),
      struct(lit(2L), lit(0.85), typedLit(Array(1.0f, 0.0f))),
      struct(lit(3L), lit(0.5), typedLit(Array(0.0f, 1.0f))))
    val got = Seq(1).toDF("x")
      .select(explode(MmrRerank(cands, lambda = 0.5, k = 3)).as("m"))
      .select("m.*").as[(Long, Long, Double)].collect().toSeq
    // step1: 0.5*0.9; step2: C wins 0.25 over B's 0.5*0.85-0.5*1 = -0.075
    assert(got == Seq((1L, 1L, 0.45), (3L, 2L, 0.25), (2L, 3L, -0.075)))
    // k > n: emits exactly n rows
    val short = Seq(1).toDF("x")
      .select(explode(MmrRerank(cands, lambda = 0.5, k = 9)).as("m"))
    assert(short.count() == 3)
  }

  test("mmrRerank operator: rank-1 is the relevance argmax, k rows per query") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val got = graft.operators.Similarity.mmrRerank(
      emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 2), "vec_id",
      nCandidates = 10, k = 4, lambda = 0.7)
    val rows = got.orderBy("query_id", "rank").collect()
    assert(rows.length == 8) // 2 queries x k=4
    // rank 1 of each query = its own vector (cos 1.0 with itself)
    val r1 = rows.filter(_.getLong(rows.head.fieldIndex("rank")) == 1L)
    assert(r1.map(r => r.getLong(0) -> r.getLong(1)).toSeq ==
      Seq(0L -> 0L, 1L -> 1L))
    // ranks are 1..k and selected ids are distinct per query
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getLong(rs.head.fieldIndex("rank"))).sorted.toSeq ==
        Seq(1L, 2L, 3L, 4L))
      assert(rs.map(_.getLong(1)).distinct.length == 4)
    }
  }

  test("CharClassStats: class counts, entropy fold order, edge inputs") {
    import graft.expressions.CharClassStats
    val rows = Seq("Ab1 cé", "", "aaaa", "abab").toDF("t")
      .select(CharClassStats(col("t")).as("cs")).select("cs.*").collect()
    // "Ab1 c<e-acute>": 6 code points, 4 alpha (A b c + e-acute is NOT
    // ASCII-alpha -> 3 alpha), 1 upper, 1 digit, 1 space
    val r0 = rows(0)
    assert((r0.getInt(0), r0.getInt(1), r0.getInt(2), r0.getInt(3),
      r0.getInt(4)) == ((6, 3, 1, 1, 1)))
    // entropy of 6 distinct singletons = ln(6)
    assert(math.abs(r0.getDouble(5) - math.log(6.0)) < 1e-12)
    // empty text: all zero, entropy exactly +0.0
    val r1 = rows(1)
    assert((r1.getInt(0), r1.getDouble(5)) == ((0, 0.0)))
    assert(java.lang.Double.doubleToLongBits(r1.getDouble(5)) == 0L)
    // single repeated symbol: entropy 0; two-symbol balanced: ln(2)
    assert(rows(2).getDouble(5) == 0.0)
    assert(math.abs(rows(3).getDouble(5) - math.log(2.0)) < 1e-12)
    // astral code point counts once (surrogate pair) toward n_cp only
    val astral = Seq("a😀b").toDF("t")
      .select(CharClassStats(col("t")).as("cs")).select("cs.*").collect()(0)
    assert((astral.getInt(0), astral.getInt(1)) == ((3, 2)))
  }

  test("frameSample: 4 frames tile the payload with integer offsets") {
    val df = Seq((1L, "abcdefghij")).toDF("id", "t") // 10 bytes, frame len 2
    val rows = Multimodal.frameSample(
        Multimodal.packText(df, "id", "t"), "id", n = 4)
      .orderBy("frame_idx").collect()
    assert(rows.length == 4)
    assert(rows.forall(_.getLong(3) == 2L))
    val frames = rows.map(r => new String(r.getAs[Array[Byte]]("frame")))
    assert(frames.toSeq == Seq("ab", "cd", "ef", "gh")) // tail "ij" unsampled
  }
}
