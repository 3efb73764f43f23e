package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.IndexStore
import graft.pipelines.{BatchJob, CurationJob, StreamingJob}

/** End-to-end tests for the composed jobs (the reference's two mains). */
class PipelineJobSpec extends SparkSpec {
  private lazy val sess = spark
  import sess.implicits._

  test("BatchJob writes all five aggregate tables with consistent counts") {
    val out = Files.createTempDirectory("graft_batchjob").toString
    val counts = BatchJob.run(spark, sf, out)
    assert(counts.keySet == Set("daily_analytics", "user_analytics",
      "value_buckets", "type_conditional", "anomaly_rollup"))
    assert(counts.values.forall(_ > 0))
    // cross-check one table against the raw data
    val days = graft.sources.Tables.events(spark, sf)
      .select(countDistinct(to_date(col("ts")))).collect().head.getLong(0)
    assert(counts("value_buckets") == days)
    // partition layout is by event_day (dynamic overwrite ready)
    val part = new java.io.File(s"$out/daily_analytics").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(part.nonEmpty && part.forall(_.startsWith("event_day=")))
  }

  test("CurationJob builds a clean, deduped, decontaminated, split corpus") {
    val out = Files.createTempDirectory("graft_curationjob").toString
    val counts = CurationJob.run(spark, sf, out)
    assert(counts.keySet == Set("corpus_clean", "quality_report",
      "dedup_decisions", "mixture_report", "train_shards"))
    assert(counts.values.forall(_ > 0))

    val report = spark.read.parquet(s"$out/quality_report")
    val decisions = spark.read.parquet(s"$out/dedup_decisions")
    val clean = spark.read.parquet(s"$out/corpus_clean")

    // every quality survivor got a dedup decision; report covers the corpus
    assert(counts("quality_report") ==
      graft.sources.Tables.documents(spark, sf)
        .filter(col("doc_id") >= 25L).count())
    assert(counts("dedup_decisions") ==
      report.filter(col("keep") === 1L).count())

    // the clean corpus contains only kept, dedup-elected, benchmark-free
    // docs; copies are dense per doc and every row carries a valid split
    val cleanIds = clean.select("doc_id").distinct().as[Long].collect().toSet
    val keptIds = report.filter(col("keep") === 1L)
      .select("doc_id").as[Long].collect().toSet
    val electedIds = decisions.filter(col("keep") === 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(cleanIds.subsetOf(keptIds intersect electedIds))
    assert(cleanIds.forall(_ >= 25L))
    assert(clean.select("split").distinct().as[String].collect().toSet
      .subsetOf(Set("train", "val", "test")))
    // scrubbing really ran: no digit runs survive in the text
    assert(clean.filter(col("text").rlike("[0-9]")).isEmpty)

    // train layout: one row per train-split corpus row, shards in
    // range, and no bin overflows budget + one document (the packing law)
    val shards = spark.read.parquet(s"$out/train_shards")
    assert(counts("train_shards") ==
      clean.filter(col("split") === "train").count())
    assert(shards.filter(col("shard") < 0 ||
      col("shard") >= CurationJob.NumShards).isEmpty)
    val overflow = shards.groupBy("shard", "bin")
      .agg(sum("n_tokens").as("s"), max("n_tokens").as("m"))
      .filter(col("s") > lit(CurationJob.PackBudget) + col("m"))
    assert(overflow.isEmpty)

    // deterministic: a second run writes identical corpus rows
    val out2 = Files.createTempDirectory("graft_curationjob2").toString
    CurationJob.run(spark, sf, out2)
    val again = spark.read.parquet(s"$out2/corpus_clean")
    assert(clean.exceptAll(again).isEmpty && again.exceptAll(clean).isEmpty)
  }

  test("CurationJob opt-in classifier rule convicts and stays off by default") {
    // with clfSeed set, the q162-family model joins the rule table as
    // one more signal: some docs must be convicted by it, the report
    // still audits the whole corpus, and every clf conviction carries
    // the rule name in reasons. A high floor guarantees convictions on
    // this corpus (scores sit in ~[0.43, 0.61])
    val out = Files.createTempDirectory("graft_curationjob_clf").toString
    val counts = CurationJob.run(spark, sf, out,
      clfSeed = Some("spark"), clfFloor = 0.5)
    assert(counts.values.forall(_ > 0))
    val report = spark.read.parquet(s"$out/quality_report")
    assert(counts("quality_report") ==
      graft.sources.Tables.documents(spark, sf)
        .filter(col("doc_id") >= 25L).count())
    val clfConvicted = report.filter(col("reasons")
      .contains("clf_out_of_domain"))
    assert(!clfConvicted.isEmpty, "the classifier rule never fired")
    assert(clfConvicted.filter(col("keep") === 1L).isEmpty)
    // default path is untouched: no clf reason can appear without a seed
    val outDef = Files.createTempDirectory("graft_curationjob_noclf").toString
    CurationJob.run(spark, sf, outDef)
    assert(spark.read.parquet(s"$outDef/quality_report")
      .filter(col("reasons").contains("clf_out_of_domain")).isEmpty)
  }

  test("CurationJob Pareto-gate selection stage composes the q165 gate") {
    // clfGate = true swaps the hard clfFloor cut for the stochastic
    // Pareto keep (q166's job-shaped path): the drop convicts as
    // clf_pareto_drop, decisions match the standalone signal frame
    // bit-for-bit, and only gate survivors reach the clean corpus
    val out = Files.createTempDirectory("graft_curationjob_gate").toString
    val counts = CurationJob.run(spark, sf, out,
      clfSeed = Some("spark"), clfGate = true)
    val docs = graft.sources.Tables.documents(spark, sf)
      .filter(col("doc_id") >= 25L)
    assert(counts("quality_report") == docs.count())
    val report = spark.read.parquet(s"$out/quality_report")
    val dropped = report.filter(col("reasons").contains("clf_pareto_drop"))
    assert(!dropped.isEmpty, "the pareto gate never dropped a doc")
    assert(dropped.filter(col("keep") === 1L).isEmpty)
    // gate decisions == the standalone classifierSignals frame
    val sig = CurationJob.classifierSignals(docs, "spark", gate = true)
    val wantDropped = sig.filter(col("clf_kept") === 0L)
      .select("doc_id").as[Long].collect().toSet
    val gotDropped = dropped.select("doc_id").as[Long].collect().toSet
    assert(gotDropped == wantDropped)
    // survivors flow through the remaining stages; the clean corpus is
    // nonempty (the gate keeps ~2-5%) and free of gate-dropped docs
    val clean = spark.read.parquet(s"$out/corpus_clean")
    assert(counts("corpus_clean") > 0)
    assert(clean.select("doc_id").distinct().as[Long].collect()
      .forall(!wantDropped.contains(_)))
  }

  test("CurationJob encode stage: shards pack REAL model tokens (opt-in)") {
    // encodeTokens = true trains a unigram-LM on the TRAIN split's
    // scrubbed text and lays out shards/bins over the kernel-counted
    // model tokens. The invariant the round-15 verdict asked for:
    // packed lengths = encoded lengths — every train_shards row's
    // n_model_tokens must equal the rowwise encoder's symbol count for
    // the same text under the SAME vocabulary, and the bins must be the
    // running-sum law over exactly those counts.
    val out = Files.createTempDirectory("graft_curationjob_enc").toString
    val counts = CurationJob.run(spark, sf, out, encodeTokens = true)
    assert(counts.values.forall(_ > 0))
    val shards = spark.read.parquet(s"$out/train_shards")
    assert(shards.columns.contains("n_model_tokens"),
      s"encoded layout must carry the model-token count; got " +
        shards.columns.mkString(", "))
    val clean = spark.read.parquet(s"$out/corpus_clean")
    val train = clean.filter(col("split") === "train")
    // retrain the same vocabulary (deterministic) and recount via the
    // EXPLODED rowwise encoder — an independent path to the same number
    val vocab = graft.operators.Curation.unigramLmTrain(
      train, "text", rounds = 2, vocabTarget = 64, maxPieceLen = 4)
    val recount = graft.operators.Curation.unigramEncodeRowwiseFromVocab(
        train.withColumn("rid", concat_ws(":", col("doc_id"), col("copy"))),
        "rid", "text", vocab, maxPieceLen = 4)
      .groupBy("rid").agg(count(lit(1)).as("n_enc"))
    val mismatch = shards
      .withColumn("rid", concat_ws(":", col("doc_id"), col("copy")))
      .join(recount, "rid")
      .filter(col("n_model_tokens") =!= col("n_enc"))
    assert(mismatch.isEmpty,
      s"packed count != encoded count for ${mismatch.count()} rows")
    assert(shards.count() == recount.count() && shards.count() == train.count())
    // bins follow the running-sum law over the MODEL counts
    val w = org.apache.spark.sql.expressions.Window.partitionBy("shard")
      .orderBy("pos").rowsBetween(Long.MinValue, 0)
    val binCheck = shards
      .withColumn("cum", sum(col("n_model_tokens")).over(w))
      .filter(col("bin") =!=
        expr(s"(cum - n_model_tokens) div ${CurationJob.PackBudget}L"))
    assert(binCheck.isEmpty, "bin law must hold over model tokens")
    // whitespace counts differ from model counts somewhere (else the
    // encode stage packed the proxy and this test proves nothing)
    assert(!shards.filter(col("n_model_tokens") =!= col("n_tokens")).isEmpty,
      "model-token counts never differ from whitespace counts on this corpus")
    // default path untouched: no n_model_tokens column without the opt-in
    val outDef = Files.createTempDirectory("graft_curationjob_noenc").toString
    CurationJob.run(spark, sf, outDef)
    assert(!spark.read.parquet(s"$outDef/train_shards")
      .columns.contains("n_model_tokens"))
  }

  test("CurationJob encode stage: tokenizer parameter picks the trio member") {
    // each path's packed counts must equal ITS OWN rowwise encoder's
    // symbol counts under the model trained on the same train split —
    // the per-path invariant the round-16 verdict asked for
    def shardsFor(tok: String): org.apache.spark.sql.DataFrame = {
      val out = Files.createTempDirectory(s"graft_job_tok_$tok").toString
      CurationJob.run(spark, sf, out, encodeTokens = true, tokenizer = tok)
      spark.read.parquet(s"$out/train_shards")
        .withColumn("rid", concat_ws(":", col("doc_id"), col("copy")))
        .join(spark.read.parquet(s"$out/corpus_clean")
            .filter(col("split") === "train")
            .withColumn("rid", concat_ws(":", col("doc_id"), col("copy")))
            .select(col("rid"), col("text")),
          "rid")
    }
    val greedy = shardsFor("greedy")
    val vocabG = graft.operators.Curation.unigramLmTrain(
      greedy.select(col("rid").as("doc_id"), col("text")), "text",
      rounds = 2, vocabTarget = 64, maxPieceLen = 4)
    val greedyRecount = graft.operators.Curation
      .wordPieceEncodeRowwiseFromVocab(greedy, "rid", "text", vocabG,
        maxPieceLen = 4)
      .groupBy("rid").agg(count(lit(1)).as("n_enc"))
    assert(greedy.join(greedyRecount, "rid")
        .filter(col("n_model_tokens") =!= col("n_enc")).isEmpty,
      "greedy path must pack greedy-kernel counts")
    val bpe = shardsFor("bpe")
    val merges = graft.operators.Curation.bpeTrainLoop(
      bpe.select(col("text")), "text",
      CurationJob.BpeMerges, CurationJob.BpeBatch)._2
    val bpeRecount = graft.operators.Curation
      .bpeEncodeRowwiseFromMerges(bpe, "rid", "text", merges)
      .groupBy("rid").agg(count(lit(1)).as("n_enc"))
    assert(bpe.join(bpeRecount, "rid")
        .filter(col("n_model_tokens") =!= col("n_enc")).isEmpty,
      "bpe path must pack bpe-kernel counts")
    // the paths are genuinely different tokenizers: some row's count
    // differs between bpe and the unigram default (else the parameter
    // proves nothing on this corpus; greedy vs unigram COUNTS can
    // legitimately coincide row-for-row on a tiny vocab even where the
    // segmentations differ — the q179 spec pins the segmentation-level
    // difference)
    val uni = shardsFor("unigram")
    assert(!bpe.select(col("rid"), col("n_model_tokens").as("b"))
        .join(uni.select(col("rid"), col("n_model_tokens").as("u")), "rid")
        .filter(col("b") =!= col("u")).isEmpty,
      "bpe and unigram counts never differ on this corpus")
  }

  test("fullVerdicts audits every doc — no-bigram docs convict as too_short") {
    val corpus = Seq(
      (1L, "hello"),                                         // 1 token: no bigram
      (2L, "plenty of healthy diverse original text written here today now " +
        "with more than twenty distinct tokens in a single well formed row ok")
    ).toDF("doc_id", "text")
    val got = CurationJob.fullVerdicts(corpus, CurationJob.DefaultRules)
      .orderBy("doc_id").as[(Long, Long, String)].collect()
    assert(got.length == 2, s"every doc must get a verdict: ${got.toSeq}")
    assert(got(0) == (1L, 0L, "too_short"))
    assert(got(1)._2 == 1L && got(1)._3 == "")
  }

  test("fullVerdicts convicts tab-separated docs (space-token fallback)") {
    // the fallback counts SPLIT-BY-SPACE tokens, same as the signal
    // path — a tab-separated doc is ONE space-token, so too_short
    // convicts it; a \S+ regex fallback would count 25 words and let it
    // through with empty reasons
    val tabDoc = (1 to 25).map(i => s"word$i").mkString("\t")
    val corpus = Seq(
      (1L, tabDoc),
      (2L, "plenty of healthy diverse original text written here today now " +
        "with more than twenty distinct tokens in a single well formed row ok")
    ).toDF("doc_id", "text")
    val got = CurationJob.fullVerdicts(corpus, CurationJob.DefaultRules)
      .orderBy("doc_id").as[(Long, Long, String)].collect()
    assert(got(0)._1 == 1L && got(0)._3.contains("too_short"),
      s"tab-separated doc must convict, got ${got.toSeq}")
    assert(got(1)._2 == 1L && got(1)._3 == "")
  }

  // ------------------- incrementalStep (the job-level ingest step, q189)

  private def freshStore(index: org.apache.spark.sql.DataFrame): String = {
    val p = Files.createTempDirectory("graft_incstep_store").toString
    IndexStore.write(IndexStore.Lexical, index, p, width = 32,
      bandBuckets = 16, idBuckets = 16)
    p
  }

  /** The step fixture: (benchmark docs, corpus index, batch). */
  private def stepFixture() = {
    val docs = graft.sources.Tables.documents(spark, sf)
    val nonBench = docs.filter(col("doc_id") >= 25L)
    val corpusIdx = graft.operators.Dedup.nearDupIndex(
        nonBench.filter(col("doc_id") % 5 < 3), "doc_id", "text", n = 3)
      .localCheckpoint()
    (docs.filter(col("doc_id") < 25L), corpusIdx,
      nonBench.filter(col("doc_id") % 5 === 3).select("doc_id", "text"))
  }

  /** The scaladoc's standalone sequence for [[CurationJob.incrementalStep]]
    * over a fresh copy of the store: the pass joined to its decisions,
    * and the kept rows' index. */
  private def standaloneStep(corpusIdx: DataFrame, batch: DataFrame,
                             bench: DataFrame) = {
    import graft.operators.{Curation, Dedup}
    val store2 = freshStore(corpusIdx)
    val pass = Curation.curationPass(batch, bench, "doc_id", "text",
      CurationJob.DefaultRules)
    val kept = pass.filter(col("keep") === 1L)
    val idx = Dedup.nearDupIndex(kept, "doc_id", "text", n = 3)
      .localCheckpoint()
    val dec = Dedup.deltaNearDupFromStore(spark, store2,
      kept.select("doc_id"), idx, "doc_id", threshold = 0.6)
    val want = pass.select(col("doc_id"), col("keep"), col("reasons"))
      .join(dec, Seq("doc_id"), "left")
      .select(col("doc_id"), col("keep"), col("reasons"), col("status"),
        col("dup_of"),
        when(col("keep") === 1L && col("status") === "new", 1L)
          .otherwise(0L).as("curated"))
    (want, idx)
  }

  test("incrementalStep ≡ the standalone operator sequence; store grows by exactly the admitted rows") {
    val (bench, corpusIdx, batchA) = stepFixture()
    val store = freshStore(corpusIdx)
    val rows0 = spark.read.parquet(s"$store/payload").count()
    val banded0 = spark.read.parquet(s"$store/banded").count()
    val got = CurationJob.incrementalStep(spark, store, batchA, bench)

    // the scaladoc's standalone sequence over a SECOND copy of the store
    val (want, idx) = standaloneStep(corpusIdx, batchA, bench)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "step decisions must equal the standalone pass→delta→curated chain")

    // stage order: quality-rejected docs never reach dedup (null status),
    // and at least one doc was rejected and one admitted on this corpus
    assert(got.filter(col("keep") === 0L && col("status").isNotNull).isEmpty)
    assert(got.filter(col("keep") === 0L).count() > 0)
    assert(got.filter(col("curated") === 1L).count() > 0)

    // the store grew by EXACTLY the admitted rows (new + shingle-bearing;
    // every admitted id appears once in payload, 32 band rows each)
    val admittedIds = got.filter(col("status") === "new")
      .join(idx.select(col("id").as("doc_id")), "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val rows1 = spark.read.parquet(s"$store/payload").count()
    val banded1 = spark.read.parquet(s"$store/banded").count()
    assert(rows1 == rows0 + admittedIds.size,
      s"payload grew $rows0->$rows1, admitted ${admittedIds.size}")
    assert(banded1 == banded0 + admittedIds.size * 32L)
    val grownIds = spark.read.parquet(s"$store/payload")
      .select("id").as[Long].collect().toSet
    val baseIds = corpusIdx.select("id").as[Long].collect().toSet
    assert(grownIds == baseIds ++ admittedIds,
      "store ids must be base ids plus exactly the admitted ids")
    corpusIdx.unpersist(); idx.unpersist()
  }

  test("incrementalStep (small path) names every job it starts; its result collects in one job and equals the join") {
    val (bench, corpusIdx, batch) = stepFixture()
    val store = freshStore(corpusIdx)
    val ((got, restored), jobs) = Harness.jobsOf(spark) {
      Harness.phase(spark, "the caller's description") {
        (CurationJob.incrementalStep(spark, store, batch, bench),
          spark.sparkContext.getLocalProperty("spark.job.description"))
      }
    }
    assert(restored == "the caller's description", "the caller's description must be restored")
    info(s"${jobs.size} jobs: ${jobs.flatMap(_.description).distinct.mkString("; ")}")
    assert(jobs.nonEmpty && jobs.forall(_.description.exists(_.startsWith("store-"))),
      s"an unnamed job: ${jobs.map(j => j.description.getOrElse(j.callSite))}")
    assert(jobs.exists(_.description.contains("store-probe lexical: delta")) &&
      !jobs.exists(_.description.contains("store-probe lexical: pruned")),
      "the step must take the small-delta path")
    val (rows, collectJobs) = Harness.jobsOf(spark)(got.collect())
    assert(collectJobs.size == 1, s"collecting the step's result started $collectJobs")
    val want = standaloneStep(corpusIdx, batch, bench)._1
    val rowsOf = (rs: Seq[Row]) => rs.map(_.toSeq.mkString("|")).sorted
    assert(rowsOf(rows.toSeq) == rowsOf(want.collect().toSeq))
    corpusIdx.unpersist()
  }

  test("incrementalStep rerun determinism: same batch + same store state → identical decisions and growth") {
    import graft.operators.Dedup
    val docs = graft.sources.Tables.documents(spark, sf)
    val bench = docs.filter(col("doc_id") < 25L)
    val nonBench = docs.filter(col("doc_id") >= 25L)
    val corpusIdx = Dedup.nearDupIndex(
        nonBench.filter(col("doc_id") % 5 < 3), "doc_id", "text", n = 3)
      .localCheckpoint()
    val batch = nonBench.filter(col("doc_id") % 5 === 3)
      .select("doc_id", "text")
    val s1 = freshStore(corpusIdx)
    val s2 = freshStore(corpusIdx)
    val d1 = CurationJob.incrementalStep(spark, s1, batch, bench)
    val d2 = CurationJob.incrementalStep(spark, s2, batch, bench)
    assert(d1.exceptAll(d2).isEmpty && d2.exceptAll(d1).isEmpty)
    val p1 = spark.read.parquet(s"$s1/payload").select("id")
      .as[Long].collect().sorted.toSeq
    val p2 = spark.read.parquet(s"$s2/payload").select("id")
      .as[Long].collect().sorted.toSeq
    assert(p1 == p2, "reruns must grow the store identically")
    corpusIdx.unpersist()
  }

  test("incrementalStep pinned edge: shingle-less survivors classify new forever and append nothing") {
    import graft.operators.Dedup
    // reachable only under rule tables laxer than DefaultRules (whose
    // too_short convicts anything below 20 tokens) — so pin it with an
    // empty rule table; the pass still appends its `contaminated` rule
    val base = Seq((1L,
      "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val bench = Seq((0L,
      "completely unrelated benchmark prose sharing nothing with anyone"))
      .toDF("doc_id", "text")
    val store = freshStore(Dedup.nearDupIndex(base, "doc_id", "text", n = 3))
    val rows0 = spark.read.parquet(s"$store/payload").count()
    val lax: Seq[(String, org.apache.spark.sql.Column)] = Seq.empty
    val d1 = CurationJob.incrementalStep(spark, store,
        Seq((101L, "tiny doc")).toDF("doc_id", "text"), bench, rules = lax)
      .select("doc_id", "keep", "status", "curated")
      .as[(Long, Long, String, Long)].collect()
    assert(d1.toSeq == Seq((101L, 1L, "new", 1L)),
      s"a shingle-less survivor must classify new, got ${d1.toSeq}")
    assert(spark.read.parquet(s"$store/payload").count() == rows0,
      "a shingle-less admit must append NOTHING (no signature exists)")
    // the identical short doc in a LATER batch re-classifies new (the
    // documented contract), while a real duplicate of the standing doc
    // is still caught by the untouched store
    val d2 = CurationJob.incrementalStep(spark, store,
        Seq((201L, "tiny doc"),
            (202L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
          .toDF("doc_id", "text"), bench, rules = lax)
      .select("doc_id", "keep", "status")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(d2.toSeq == Seq((201L, 1L, "new"), (202L, 1L, "dup_of_corpus")),
      s"got ${d2.toSeq}")
  }

  test("incrementalStep shortDocExact: short identical docs classify dup under the flag") {
    import graft.operators.Dedup
    val base = Seq((1L,
      "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val bench = Seq((0L,
      "completely unrelated benchmark prose sharing nothing with anyone"))
      .toDF("doc_id", "text")
    val store = freshStore(Dedup.nearDupIndex(base, "doc_id", "text", n = 3))
    // bootstrap the exact side table from the standing SHORT docs
    Dedup.writeFingerprintStore(spark, store,
      Seq((5L, "standing short")).toDF("doc_id", "text")
        .select(col("doc_id").as("id"),
          graft.functions.TextFns.fingerprint(col("text")).as("fp")))
    val rows0 = spark.read.parquet(s"$store/payload").count()
    val lax: Seq[(String, org.apache.spark.sql.Column)] = Seq.empty
    def step(rows: Seq[(Long, String)], flag: Boolean) =
      CurationJob.incrementalStep(spark, store,
          rows.toDF("doc_id", "text"), bench, rules = lax,
          shortDocExact = flag)
        .select("doc_id", "keep", "status", "dup_of", "curated")
        .as[(Long, Long, String, Option[Long], Long)].collect()
        .sortBy(_._1).toSeq
    // 101 is a CASE variant, single-spaced: the shingle tokenizer
    // splits on single spaces without filtering empties (the oracle's
    // string_split twin), so a double-spaced variant would grow a
    // degenerate 3-token shingle and route to the Jaccard leg instead
    val d1 = step(Seq(
      (101L, "Standing SHORT"),  // normalized exact dup of standing 5
      (102L, "tiny doc"),        // first of its content → new, admitted
      (103L, "tiny doc"),        // in-batch exact dup of 102
      (104L, "another tiny"),    // new, admitted
      (105L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")),
      flag = true)               // near-dup leg untouched by the flag
    assert(d1 == Seq(
      (101L, 1L, "dup_of_corpus", Some(5L), 0L),
      (102L, 1L, "new", None, 1L),
      (103L, 1L, "dup_in_batch", Some(102L), 0L),
      (104L, 1L, "new", None, 1L),
      (105L, 1L, "dup_of_corpus", Some(1L), 0L)), s"got $d1")
    // the exact admits grew ONLY the side table — never the Jaccard
    // store (shingle-less docs have no signature to band)
    assert(spark.read.parquet(s"$store/payload").count() == rows0)
    assert(spark.read.parquet(s"$store/exact/keys")
      .select("fp").as[String].collect().toSet.size == 3,
      "side table must hold standing + the two admitted fingerprints")
    // the seam is closed: an identical short doc in a LATER batch now
    // classifies dup_of_corpus against the admitted keeper…
    val d2 = step(Seq((201L, "tiny doc")), flag = true)
    assert(d2 == Seq((201L, 1L, "dup_of_corpus", Some(102L), 0L)),
      s"got $d2")
    // …while the flag-off path keeps the pinned new-forever contract
    val d3 = step(Seq((301L, "tiny doc")), flag = false)
    assert(d3 == Seq((301L, 1L, "new", None, 1L)), s"got $d3")
    // replay convergence (the CurationStream contract): re-running a
    // batch whose fingerprints are already stored converges — verdicts
    // and keepers identical, only the dup SUBTYPE may shift (103's
    // keeper 102 is now corpus-side), and the side table doesn't grow
    val k0 = spark.read.parquet(s"$store/exact/keys").count()
    val r1 = CurationJob.incrementalStep(spark, store,
        Seq((102L, "tiny doc"), (103L, "tiny doc")).toDF("doc_id", "text"),
        bench, rules = lax, idempotent = true, shortDocExact = true)
      .select("doc_id", "status", "dup_of")
      .as[(Long, String, Option[Long])].collect().sortBy(_._1).toSeq
    assert(r1 == Seq((102L, "new", None),
      (103L, "dup_of_corpus", Some(102L))), s"got $r1")
    assert(spark.read.parquet(s"$store/exact/keys").count() == k0,
      "a replayed batch must not grow the side table")
  }

  test("incrementalStep shortDocExact on a compacted or rebanded store: exact/ is carried along") {
    import graft.operators.Dedup
    val base = Seq((1L,
      "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val bench = Seq((0L,
      "completely unrelated benchmark prose sharing nothing with anyone"))
      .toDF("doc_id", "text")
    val store = freshStore(Dedup.nearDupIndex(base, "doc_id", "text", n = 3))
    Dedup.writeFingerprintStore(spark, store,
      Seq((5L, "standing short")).toDF("doc_id", "text")
        .select(col("doc_id").as("id"),
          graft.functions.TextFns.fingerprint(col("text")).as("fp")))
    def rewritten(prefix: String)(f: String => Unit) = {
      val p = Files.createTempDirectory(prefix).toString
      f(p)
      p
    }
    val compacted = rewritten("graft_incstep_cp")(p =>
      IndexStore.compact(spark, IndexStore.Lexical, store, p, Seq(1L, 5L).toDF("id")))
    val rebanded = rewritten("graft_incstep_rb")(p =>
      IndexStore.reband(spark, IndexStore.Lexical, store, p, width = 16,
        bandBuckets = 8, idBuckets = 8))
    // a retention cut that drops the short doc drops its fingerprint too
    val cut = rewritten("graft_incstep_cut")(p =>
      IndexStore.compact(spark, IndexStore.Lexical, store, p, Seq(1L).toDF("id")))
    def step(path: String) =
      CurationJob.incrementalStep(spark, path,
          Seq((101L, "Standing SHORT")).toDF("doc_id", "text"), bench,
          rules = Seq.empty[(String, org.apache.spark.sql.Column)],
          shortDocExact = true)
        .select("doc_id", "status", "dup_of")
        .as[(Long, String, Option[Long])].collect().toSeq
    for (path <- Seq(compacted, rebanded))
      assert(step(path) == Seq((101L, "dup_of_corpus", Some(5L))), s"$path: got ${step(path)}")
    assert(step(cut) == Seq((101L, "new", None)), s"got ${step(cut)}")
  }

  test("idempotent store append repairs a payload-committed/banded-lost crash window") {
    import graft.operators.Dedup
    // the plain append commits payload/ and banded/ as two separate
    // jobs; a crash between them leaves a doc payload-present but
    // banded-absent. The idempotent append must repair PER TABLE: skip
    // the payload re-write, still land the banded rows — a single
    // payload-keyed existence check would anti-join the replay away
    // and the doc would never generate candidates again
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo"
    val uniq = "uno dos tres cuatro cinco seis siete ocho nueve diez " +
      "once doce trece catorce quince dieciseis diecisiete dieciocho"
    val store = freshStore(Dedup.nearDupIndex(
      Seq((1L, base)).toDF("doc_id", "text"), "doc_id", "text", n = 3))
    val idx2 = Dedup.nearDupIndex(Seq((2L, uniq)).toDF("doc_id", "text"),
      "doc_id", "text", n = 3).localCheckpoint()
    // simulate the crash: payload committed, banded lost
    idx2.select(col("id"), col("sh"), col("hs"), col("sig"),
        pmod(xxhash64(col("id")), lit(16L)).as("idb"))
      .repartition(col("idb"))
      .write.mode("append").partitionBy("idb").parquet(s"$store/payload")
    val bandedBefore = spark.read.parquet(s"$store/banded").count()
    IndexStore.appendIdempotent(spark, IndexStore.Lexical, store, idx2)
    assert(spark.read.parquet(s"$store/payload")
      .filter(col("id") === 2L).count() == 1L,
      "payload must not duplicate the already-committed row")
    assert(spark.read.parquet(s"$store/banded").count() ==
      bandedBefore + 32L, "the lost banded rows must be repaired")
    // the repaired doc generates candidates again: a duplicate probes
    // to dup_of_corpus pointing at it
    val probe = Seq((99L, uniq)).toDF("doc_id", "text")
    val dec = Dedup.deltaNearDupFromStore(spark, store,
        probe.select("doc_id"),
        Dedup.nearDupIndex(probe, "doc_id", "text", n = 3).localCheckpoint(),
        "doc_id", threshold = 0.6)
      .select("doc_id", "status", "dup_of")
      .as[(Long, String, Option[Long])].collect()
    assert(dec.toSeq == Seq((99L, "dup_of_corpus", Some(2L))), s"got ${dec.toSeq}")
    // a full replay is now a complete no-op
    val p0 = spark.read.parquet(s"$store/payload").count()
    IndexStore.appendIdempotent(spark, IndexStore.Lexical, store, idx2)
    assert(spark.read.parquet(s"$store/payload").count() == p0)
    assert(spark.read.parquet(s"$store/banded").count() == bandedBefore + 32L)
  }

  test("StreamingJob forks analytics + anomalies off one stream") {
    implicit val ctx = spark.sqlContext
    val out = Files.createTempDirectory("graft_streamjob").toString
    val in = MemoryStream[Ev]
    val queries = StreamingJob.start(in.toDF(), out)
    try {
      in.addData(
        Ev(1, new java.sql.Timestamp(61000L), 1, "click", 10.0, "{}"),
        Ev(2, new java.sql.Timestamp(70000L), 2, "error", 200.0, "{}"),
        Ev(3, new java.sql.Timestamp(80000L), 1, "signup", 195.0, "{}"),
        // advance the watermark so the window closes and appends
        Ev(4, new java.sql.Timestamp(600000L), 3, "view", 1.0, "{}"))
      queries.foreach(_.processAllAvailable())
      val anomalies = spark.read.parquet(s"$out/anomalies")
        .select("event_id").as[Long].collect().sorted
      assert(anomalies.toSeq == Seq(2L, 3L)) // error>180 and signup>190 rules
      val win = spark.read.parquet(s"$out/windowed_analytics")
      assert(win.filter(col("window_start") === lit(new java.sql.Timestamp(60000L)))
        .agg(sum("record_count")).collect().head.getLong(0) == 3L)
    } finally queries.foreach(_.stop())
  }
}
