package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe main: measures how two headline operators scale when the
  * SAME corpus grows k× in row count — one measured data point behind the
  * 100 TB design claims, which otherwise rest on plan shape alone.
  *
  * Method: the sf-dir documents table is replicated k× IN MEMORY with
  * remapped ids, localCheckpointed BEFORE timing (so replication cost and
  * parquet I/O are excluded and both scales run from a materialized RDD):
  *
  *   - q85 shape ([[graft.operators.Curation.curationPass]]): the rowwise
  *     signals → contamination → verdict → scrub projection. Pure narrow
  *     path — ideal scaling is ~linear in rows.
  *   - q22 shape ([[graft.operators.Dedup.minHashPairs]]): MinHash-banded
  *     near-dup pairs. Copy 0 is the identity and every token of copy
  *     c ≥ 1 is suffixed `_c`, so copies of one document share NO
  *     shingles: within-copy pair structure is identical to the original
  *     corpus and the true pair count scales exactly ×k — the probe
  *     measures the banded-candidate path under k× load, not an
  *     artificial quadratic duplicate blowup.
  *
  * Prints one JSON line:
  * `{"probe":"scale","sf":...,"k":K,"queries":{"q22_minhash":{"x1":s,"xK":s,
  * "ratio":r},...}}` — `ratio` ≈ K is linear scaling; ratio well below K
  * means fixed overhead still dominates at this SF; ratio well above K
  * flags a superlinear stage that would not survive 100 TB.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "10").toInt
    val k2 = sys.env.getOrElse("SPARK_GRAFT_SCALE_K2", "100").toInt
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "text")

    /** k× replica with remapped ids and per-copy token decorrelation,
      * materialized (interpreted-lambda replication cost excluded from
      * every timing below). Copy 0 is the IDENTITY (text untouched,
      * mirroring `replicateEmb`), copies 1..k-1 suffix every token
      * `_c` — all copies stay mutually shingle-disjoint (no suffix vs
      * distinct suffixes), so within-copy pair structure is identical
      * and true pair counts scale exactly ×k, while probes built from
      * the ORIGINAL corpus (the delta/store batch legs, the BM25
      * queries) keep their real 1×-sized match workload at every
      * scale — without the identity copy, a ×k probe batch matches
      * NOTHING and the 'flat' reading times an empty verify (the
      * round-17 review catch).
      */
    def replicate(times: Int): DataFrame = {
      val r =
        if (times == 1) docs
        else docs
          .select(col("*"),
            explode(sequence(lit(0), lit(times - 1))).as("copy"))
          .select((col("doc_id") * times + col("copy")).as("doc_id"),
            col("lang"),
            when(col("copy") === 0, col("text"))
              .otherwise(concat_ws(" ", transform(split(col("text"), " "),
                t => concat(t, lit("_"), col("copy"))))).as("text"))
      val out = r.localCheckpoint()
      out.count() // force materialization now, outside the timed window
      out
    }

    def time(df: => DataFrame): Double =
      (1 to iters).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }.min

    val passRules: Seq[(String, Column)] = Seq(
      "too_short" -> (col("n_tokens") < 20),
      "low_diversity" -> (col("distinct_ratio") < 0.35),
      "top_heavy" -> (col("top_word_frac") > 0.15),
      "dup_bigrams" -> (col("dup_bigram_frac") > 0.09))

    // fixed benchmark side (the small broadcast model input): scaling
    // the corpus, not the contamination lexicon, is the 100 TB shape
    val bench = docs.filter(col("doc_id") % 20 === 0)
    def pass(corpus: DataFrame): DataFrame =
      graft.operators.Curation.curationPass(
        corpus, bench, "doc_id", "text", passRules).drop("text")
    def minhash(corpus: DataFrame): DataFrame =
      graft.operators.Dedup.minHashPairs(
        corpus, "doc_id", "text", n = 3, threshold = 0.6)

    // untimed warmup (Bench discipline): codegen/JIT compile once, so the
    // 1× measurement isn't first-run cost — without this the probe reads
    // ratio < 1 and the scaling signal is pure noise
    locally {
      val warm = replicate(1)
      pass(warm).write.mode("overwrite").format("noop").save()
      minhash(warm).write.mode("overwrite").format("noop").save()
    }

    val results = Seq(1, k).map { times =>
      val corpus = replicate(times)
      val tPass = time(pass(corpus))
      val tMinhash = time(minhash(corpus))
      corpus.unpersist()
      (times, tPass, tMinhash)
    }
    val (x1Pass, x1Mh) = (results.head._2, results.head._3)
    val (xkPass, xkMh) = (results.last._2, results.last._3)

    // Embedding LSH pair path: copies are dimension-ROLLED (a pure
    // permutation — norms and within-copy geometry exact, cross-copy
    // cosines decorrelate under the fixed plane model), so the true
    // pair count scales ×k while candidate volume follows the banding
    // occupancy curve. Measured BOTH at the graded 8-bit banding (where
    // bucket occupancy n/2^8 makes the pair step superlinear once
    // n ≫ 256 — the documented knob) and at rowsPerBand = 12, which
    // restores occupancy at k× — the measured evidence that band width
    // must track corpus size.
    val embDim = 64
    def replicateEmb(times: Int): DataFrame = {
      val emb = graft.sources.Tables.embeddings(spark, sfDir)
        .filter(col("embedding").isNotNull).select("vec_id", "embedding")
      val r =
        if (times == 1) emb
        else emb
          .select(col("*"),
            explode(sequence(lit(0), lit(times - 1))).as("copy"))
          .select((col("vec_id") * times + col("copy")).as("vec_id"),
            transform(sequence(lit(0), lit(embDim - 1)), i =>
              element_at(col("embedding"),
                (pmod(i + col("copy"), lit(embDim)) + 1).cast("int")))
              .as("embedding"))
      val out = r.localCheckpoint()
      out.count()
      out
    }
    def lsh(corpus: DataFrame, rowsPerBand: Int): DataFrame =
      graft.operators.Similarity.lshNearDupPairs(
        corpus, "vec_id", "embedding", threshold = 0.4,
        rowsPerBand = rowsPerBand)
    val emb1 = replicateEmb(1)
    lsh(emb1, 8).write.mode("overwrite").format("noop").save() // warmup
    val tLsh1 = time(lsh(emb1, 8))
    val embK = replicateEmb(k)
    val tLshK = time(lsh(embK, 8))
    val tLshKWide = time(lsh(embK, 12))
    // the auto-sized default (rowsPerBand = 0): at 1× the occupancy
    // formula lands on the graded 8 bits (so tLsh1 IS the auto 1×
    // time); at k× it must widen itself enough that the run stays
    // ≤ 2× the 1× time — the acceptance bar for the default being
    // safe to leave unset at growing corpus sizes
    val tLshKAuto = time(lsh(embK, 0))

    // Incremental near-dup probe (round 15, q173 shape): the per-batch
    // cost of deltaSemNearDup against a PERSISTED index as the standing
    // corpus grows ×k with the batch FIXED — the continuous-ingest
    // claim measured. The index is checkpointed UNTIMED (it persists
    // across runs in deployment); each timed iteration pays the full
    // per-batch bill: the batch signature materialization, the probe
    // join against the index's banded keys, the verify joins, and the
    // within-batch leg. The batch reuses the raw embeddings' %5 slice
    // (copy 0 of the rolled index is the identity, so real verify work
    // exists at both scales); ids offset out of the corpus range. The
    // 12-bit ×k point mirrors the pair path's width-tracks-corpus-size
    // evidence for the probe join's bucket occupancy.
    def deltaLeg(idx: DataFrame, rows: Int): Double = {
      val batch = graft.sources.Tables.embeddings(spark, sfDir)
        .filter(col("embedding").isNotNull && col("vec_id") % 5 === 4)
        .select((col("vec_id") + 1000000000L).as("vec_id"),
          col("embedding"))
      time(graft.operators.Similarity.deltaSemNearDup(
        idx, batch, "vec_id", "embedding", threshold = 0.4,
        rowsPerBand = rows))
    }
    val idx1 = graft.operators.Similarity.signatureFrame(
      emb1, "vec_id", "embedding").localCheckpoint()
    idx1.count()
    deltaLeg(idx1, 8) // warmup
    val tD1 = deltaLeg(idx1, 8)
    idx1.unpersist()
    val idxK = graft.operators.Similarity.signatureFrame(
      embK, "vec_id", "embedding").localCheckpoint()
    idxK.count()
    val tDK = deltaLeg(idxK, 8)
    val tDK12 = deltaLeg(idxK, 12)
    idxK.unpersist()
    emb1.unpersist(); embK.unpersist()

    // LEXICAL incremental probe (VERDICT r16 #1 — the corpus-size-
    // independence claim MEASURED): a FIXED batch classified via
    // deltaNearDupFromIndex against a standing nearDupIndex grown ×1,
    // ×k, ×k2. The index is built + checkpointed UNTIMED (it persists
    // across runs in deployment), and the batch's own index rows are
    // checkpointed untimed too (the admit-then-probe deployment
    // computes them once per batch — q177's shared-frame shape), so
    // each timed run isolates exactly the INDEX-SIZE-dependent work:
    // the corpus side's stored-signature banding projection, the
    // (band, bh) equi-join against the batch's probe keys, the exact
    // verifies, and the fixed within-batch leg. Copy 0 of the suffixed
    // replica is the original corpus, so real corpus matches (and
    // verify work) exist at every scale while copies 1..k share no
    // shingles with the batch — candidate volume stays batch-sized by
    // construction and any time growth is the probe's index-scan term.
    def lexIndex(times: Int): DataFrame = {
      val c = replicate(times)
      val idx = graft.operators.Dedup.nearDupIndex(c, "doc_id", "text", n = 3)
        .localCheckpoint()
      idx.count()
      c.unpersist()
      idx
    }
    val lexBatchSrc = docs.filter(col("doc_id") % 5 === 4)
      .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
    val lexBatchIds = lexBatchSrc.select("doc_id").localCheckpoint()
    lexBatchIds.count()
    val lexBatchIdx = graft.operators.Dedup.nearDupIndex(
      lexBatchSrc, "doc_id", "text", n = 3).localCheckpoint()
    lexBatchIdx.count()
    def lexProbe(idx: DataFrame): Double =
      time(graft.operators.Dedup.deltaNearDupFromIndex(
        idx, lexBatchIds, lexBatchIdx, "doc_id", threshold = 0.6))
    def writeStore(idx: DataFrame, bandBuckets: Int,
                   idBuckets: Int): String = {
      val p = java.nio.file.Files
        .createTempDirectory("graft_scale_ndstore").toString
      graft.operators.IndexStore.write(graft.operators.IndexStore.Lexical,
        idx, p, width = 32, bandBuckets = bandBuckets, idBuckets = idBuckets)
      p
    }
    // each scale's index is built ONCE and feeds both the in-memory
    // probe and the persisted store (write untimed, probed below)
    val lexIdx1 = lexIndex(1)
    lexProbe(lexIdx1) // warmup
    val tLex1 = lexProbe(lexIdx1)
    val store1 = writeStore(lexIdx1, 512, 64)
    lexIdx1.unpersist()
    val lexIdxK = lexIndex(k)
    val tLexK = lexProbe(lexIdxK)
    val storeK = writeStore(lexIdxK, 512 * k, 64 * k)
    lexIdxK.unpersist()
    val lexIdxK2big = lexIndex(k2)
    val lexRowsK2 = lexIdxK2big.count()
    val tLexK2 = lexProbe(lexIdxK2big)
    val storeK2 = writeStore(lexIdxK2big, 8192, 1024)
    lexIdxK2big.unpersist()

    // PERSISTED-STORE probe legs (the flat path): a FIXED micro-batch
    // (deployment-shaped — a per-run batch is vanishingly small next to
    // the standing corpus) probed against IndexStore.Lexical stores
    // of the ×1 / ×k / ×k2 corpora, with bucket counts MAINTAINED
    // proportional to corpus size (the banded-width rule applied to
    // storage; IndexStore.reband is that maintenance step). Per-probe
    // read volume is (probed buckets / bandBuckets) × corpus — constant
    // when buckets track the corpus — so the ratio here is the
    // corpus-size-independence claim measured, vs the in-memory legs
    // above whose banding+fetch scans are honestly O(index). Store
    // writes are UNTIMED (they amortize over every probe between
    // maintenance events). ×k2's bucket count is capped at 8192 local
    // directories (the local-fs listing bound; an object store keeps
    // the proportional count and the flat curve).
    val microBatch = docs.filter(col("doc_id") % 1000 === 999)
      .select((col("doc_id") + 2000000000L).as("doc_id"), col("text"))
    val microIds = microBatch.select("doc_id").localCheckpoint()
    microIds.count()
    val microIdx = graft.operators.Dedup.nearDupIndex(
      microBatch, "doc_id", "text", n = 3).localCheckpoint()
    microIdx.count()
    def storeProbe(path: String): Double =
      time(graft.operators.Dedup.deltaNearDupFromStore(
        spark, path, microIds, microIdx, "doc_id", threshold = 0.6))
    storeProbe(store1) // warmup
    val tStore1 = storeProbe(store1)
    val tStoreK = storeProbe(storeK)
    val tStoreK2 = storeProbe(storeK2)
    lexBatchIds.unpersist(); lexBatchIdx.unpersist()
    microIds.unpersist(); microIdx.unpersist()
    Seq(store1, storeK, storeK2).foreach { p =>
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }

    // ×k2 (default ×100) auto-curve design point: the next decade of the
    // band-width rule. At 200k rolled vectors the occupancy curve
    // resolves 15 bits; the probe times BOTH the auto default and the
    // ×10-good fixed 12 bits — auto validating means auto ≤ fixed-12
    // (the fixed width's occupancy n/2^12 ≈ 49 is past its design point
    // and its pair step has begun its superlinear onset) and the
    // auto time growing ≈ linearly (≤ ~2× the row growth) vs the ×k
    // auto time. Resolved widths printed so BASELINE.md records curve
    // points, not just seconds.
    val embK2 = replicateEmb(k2)
    val nK2 = math.max(embK2.count(), 1L)
    val autoWidthK2 = graft.operators.Similarity.biasAwareRowsPerBand(nK2,
      graft.operators.Similarity.planeAgreeProbs(embK2, "embedding", nK2))
    val tLshK2Auto = time(lsh(embK2, 0))
    val tLshK2Fixed12 = time(lsh(embK2, 12))
    // semantic incremental ×k2 point (the family's third decade, next
    // to the lexical legs below): same fixed batch, signature frame of
    // the ×k2 corpus checkpointed untimed. Width is the AUTO-resolved
    // one for this corpus size (15 bits at 200k rows) — probing a ×k2
    // index at the graded 8-bit width is the documented pathological
    // configuration (bucket occupancy n/2^8 ≈ 780 makes the candidate
    // set corpus-sized; measured: the verify build OOMs), i.e. the
    // same width-tracks-corpus-size rule the pair family measures.
    val idxK2sem = graft.operators.Similarity.signatureFrame(
      embK2, "vec_id", "embedding").localCheckpoint()
    idxK2sem.count()
    val tDK2 = deltaLeg(idxK2sem, autoWidthK2)
    idxK2sem.unpersist()
    embK2.unpersist()

    // Connected-components probe (q49 shape — the iterative min-label +
    // pointer-doubling loop that q49/q68/q99/q126/q134/q137/q141 and the
    // CurationJob keep-list stage all ride). The pair frame is built by
    // the banded MinHash path (the 100 TB candidate generator) UNTIMED
    // and materialized, so the timing isolates the CC loop itself: edge
    // mirroring, the per-round join+aggregate, doubling self-join, and
    // convergence check. Copies are shingle-disjoint, so the k× graph is
    // k disjoint isomorphic copies of the 1× graph: component structure
    // and round count are identical by construction, and the ideal
    // ratio is ~k (per-round work linear in edges) minus the fixed
    // per-round scheduling floor that dominates at this SF.
    def ccPairs(corpus: DataFrame): DataFrame = {
      val p = minhash(corpus)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint()
      p.count() // materialize outside the timed window
      p
    }
    def cc(pairs: DataFrame): DataFrame =
      graft.operators.Dedup.connectedComponents(pairs)
    val corpus1 = replicate(1)
    val pairs1 = ccPairs(corpus1)
    cc(pairs1).write.mode("overwrite").format("noop").save() // warmup
    val tCc1 = time(cc(pairs1))
    val corpusK = replicate(k)
    val pairsK = ccPairs(corpusK)
    val tCcK = time(cc(pairsK))
    pairs1.unpersist(); pairsK.unpersist()

    // BM25 probe (q101 shape): the retrieval family's SHUFFLE path — the
    // per-term df and per-doc dl windows ride one term-keyed exchange
    // over the whole corpus, so their cost scales with corpus tokens
    // regardless of the query sample. The query side stays FIXED (the
    // 1× corpus's first ids — the 100 TB shape: eval queries don't grow
    // with the crawl); replicated copies' suffixed tokens never match
    // the queries, so the match join stays 1×-sized and the timing
    // isolates the scaling of the corpus-side statistics windows.
    val bmQueries = corpus1.filter(col("doc_id") < 10)
    def bm25(corpus: DataFrame): DataFrame =
      graft.functions.Bm25.topK(corpus, "doc_id", "text",
        bmQueries, "doc_id", "text", k = 5)
    bm25(corpus1).write.mode("overwrite").format("noop").save() // warmup
    val tBm1 = time(bm25(corpus1))
    val tBmK = time(bm25(corpusK))

    // Winnowing-overlap probe (q116 shape): the df-capped inverted-index
    // self-join — the candidate generator whose dfCap²/2 bucket bound is
    // the scale claim. Copies are fingerprint-disjoint (suffixed
    // tokens), so buckets never inflate across copies and the true pair
    // structure scales exactly ×k; a superlinear ratio here would mean
    // the cap is NOT bounding the join fanout as designed.
    def winnow(corpus: DataFrame): DataFrame =
      graft.operators.Dedup.winnowOverlap(corpus, "doc_id", "text",
        k = 3, w = 4, dfCap = 20, minShared = 2)
    winnow(corpus1).write.mode("overwrite").format("noop").save() // warmup
    val tWin1 = time(winnow(corpus1))
    val tWinK = time(winnow(corpusK))

    // CDC census probe (q143 shape): one doc-keyed running-sum window +
    // one chunk-hash first-occurrence window. Copies are token-suffixed
    // (disjoint chunk hashes), so the chunk-hash partitions never
    // inflate and the ideal is ~linear in tokens — a superlinear ratio
    // would implicate the chunk-hash window's partition skew handling.
    def cdc(corpus: DataFrame): DataFrame =
      graft.operators.Dedup.cdcChunkStats(corpus, "doc_id", "text")
    cdc(corpus1).write.mode("overwrite").format("noop").save() // warmup
    val tCdc1 = time(cdc(corpus1))
    val tCdcK = time(cdc(corpusK))

    // hash-embed probe (q146 shape): tokenize + one (id, dim) keyed
    // aggregate + dim-bounded assembly — the narrowest keyed shape in
    // the repo; ideal ~linear.
    def hashEmbed(corpus: DataFrame): DataFrame =
      graft.operators.Similarity.hashEmbed(corpus, "doc_id", "text")
    hashEmbed(corpus1).write.mode("overwrite").format("noop").save()
    val tHe1 = time(hashEmbed(corpus1))
    val tHeK = time(hashEmbed(corpusK))

    // classifier probe (q162–q165 shape): hash-embed features + one
    // 128-avg partial aggregate collected driver-side (the Rocchio
    // model) + the stateless score/gate projection — ideal ~linear;
    // nothing corpus-sized moves, the model is 65 doubles. The seed is
    // startsWith (replicas decorate tokens with a _copy suffix, so the
    // exact-keyword seed of the graded queries would go one-class here;
    // the per-doc boolean costs the same either way).
    def clfRun(corpus: DataFrame): Double = {
      import graft.operators.Curation
      val feats = corpus.select(col("doc_id"),
        exists(split(col("text"), " "), t => t.startsWith("spark")).as("y"),
        graft.expressions.HashEmbedVec(
          graft.functions.TextFns.tokens(col("text")), 64).as("embedding"))
      System.gc()
      val t0 = System.nanoTime()
      val w = Curation.rocchioTrain(feats, "embedding", col("y"))
      Curation.paretoGate(
          Curation.logisticScore(feats, "embedding", w), "doc_id", "score")
        .select("doc_id", "score", "gate", "kept")
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    clfRun(corpus1) // warmup
    val tClf1 = (1 to iters).map(_ => clfRun(corpus1)).min
    val tClfK = (1 to iters).map(_ => clfRun(corpusK)).min

    // q160 composite probe (VERDICT r14 #6): nearDupPairsAutoFromSig —
    // bias-aware width × recall cap × multi-probe × shared signature
    // frame TOGETHER — on the hash-embed corpus (q160's own input
    // shape) at 1× and ×k. The signature frame is checkpointed UNTIMED
    // (the shared-frame deployment: one materialization per dedup run,
    // q154/q160's SharedFrames convention); suffixed replica tokens
    // decorrelate the hash embeddings, so true pairs scale ~×k.
    // Resolved widths are printed so BASELINE.md records the curve
    // point the decade actually ran at, not just seconds.
    def sigFrame(corpus: DataFrame): DataFrame = {
      val f = graft.operators.Similarity.signatureFrame(
        graft.operators.Similarity.hashEmbed(corpus, "doc_id", "text")
          .filter(col("embedding").isNotNull),
        "doc_id", "embedding").localCheckpoint()
      f.count(); f
    }
    def q160Width(sigF: DataFrame): Int = {
      val n = math.max(sigF.count(), 1L)
      math.min(
        graft.operators.Similarity.biasAwareRowsPerBand(n,
          graft.operators.Similarity.planeAgreeProbsFromSig(sigF, n)),
        graft.operators.Similarity.recallCapRowsPerBand(0.8, 0.9))
    }
    def q160Run(sigF: DataFrame): DataFrame =
      graft.operators.Similarity.nearDupPairsAutoFromSig(
        sigF, threshold = 0.8, recallTarget = 0.9)
    val sig1 = sigFrame(corpus1)
    q160Run(sig1).write.mode("overwrite").format("noop").save() // warmup
    val w160x1 = q160Width(sig1)
    val t160x1 = time(q160Run(sig1))
    val sigK = sigFrame(corpusK)
    val w160xK = q160Width(sigK)
    val t160xK = time(q160Run(sigK))
    sig1.unpersist(); sigK.unpersist()

    // unigram-LM tokenizer family (round 15): the trainer's EM rounds
    // run on the DISTINCT-WORD census frame, which the suffixed
    // replicas grow ~×k (every copy's tokens are new words) — the
    // honest worst case for a census-frame algorithm; the sampled
    // encoder is timed FROM a pre-trained vocab (the SharedFrames
    // deployment), so its leg isolates the token-grain choice
    // aggregate + backtrace walk that scale in the token stream.
    def uniTrain(corpus: DataFrame): DataFrame =
      graft.operators.Curation.unigramLmTrain(corpus, "text", rounds = 2,
        vocabTarget = 64, maxPieceLen = 4, seedSize = 256)
    def timeAction(body: => Unit): Double =
      (1 to iters).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e9
      }.min
    uniTrain(corpus1).write.mode("overwrite").format("noop").save() // warmup
    val tUt1 = timeAction(
      uniTrain(corpus1).write.mode("overwrite").format("noop").save())
    val tUtK = timeAction(
      uniTrain(corpusK).write.mode("overwrite").format("noop").save())
    val vocab1 = uniTrain(corpus1).localCheckpoint()
    val vocabK = uniTrain(corpusK).localCheckpoint()
    vocab1.count(); vocabK.count()
    def uniSamp(corpus: DataFrame, vocabF: DataFrame): DataFrame =
      graft.operators.Curation.unigramSampleEncodeFromVocab(
        corpus, "doc_id", "text", vocabF)
    uniSamp(corpus1, vocab1).write.mode("overwrite").format("noop").save()
    val tUs1 = time(uniSamp(corpus1, vocab1))
    val tUsK = time(uniSamp(corpusK, vocabK))
    // the ROWWISE kernel's decade point — the contrast datum for the
    // declarative formulation's measured superlinearity (22×): same
    // draws, no edge frame, no token-grain shuffle
    def uniSampRow(corpus: DataFrame, vocabF: DataFrame): DataFrame =
      graft.operators.Curation.unigramSampleEncodeRowwiseFromVocab(
        corpus, "doc_id", "text", vocabF)
    uniSampRow(corpus1, vocab1).write.mode("overwrite").format("noop").save()
    val tUr1 = time(uniSampRow(corpus1, vocab1))
    val tUrK = time(uniSampRow(corpusK, vocabK))
    // CONSTANT-LENGTH ×k leg (VERDICT r15 #3): the suffixed replicas
    // above lengthen every token ~⅓ (copy suffix on ~5-char tokens), so
    // the rowwise sampler's ×k ratio reads ~12.8 — attributed to char
    // volume, here MEASURED instead: replicas remap doc_id only, text
    // byte-identical (the per-row kernel has no cross-row interaction
    // and its md5 draws key on (doc_id, word_pos), so copies still
    // sample independently), encoded under the SAME 1× vocabulary.
    // Char volume scales exactly ×k ⇒ ratio ≈ k is the linearity proof.
    def replicateConstLen(times: Int): DataFrame = {
      val r = docs
        .select(col("*"),
          explode(sequence(lit(0), lit(times - 1))).as("copy"))
        .select((col("doc_id") * times + col("copy")).as("doc_id"),
          col("lang"), col("text"))
      val out = r.localCheckpoint()
      out.count()
      out
    }
    val constK = replicateConstLen(k)
    val tUrCK = time(uniSampRow(constK, vocab1))
    constK.unpersist()
    vocab1.unpersist(); vocabK.unpersist()
    corpus1.unpersist(); corpusK.unpersist()

    // CurationJob ×k probe: the composed five-table pipeline (verdict →
    // dedup keep list → decontaminate → mixture → sharded/packed layout,
    // REAL table writes) — every stage has an individual scale point;
    // this measures their composition. Decorated replicas are written as
    // a documents.parquet under a temp sf-dir so the job's declared-
    // schema read path runs unchanged; the benchmark cut (doc_id <
    // benchCut after ×k id remapping) scales proportionally. Replica
    // write + read happen OUTSIDE the timed window.
    def jobCorpusDir(times: Int): java.nio.file.Path = {
      val base = java.nio.file.Files.createTempDirectory("graft_scale_job_src")
      val src = graft.sources.Tables.documents(spark, sfDir)
      val rep =
        if (times == 1) src
        else src
          .select(col("*"),
            explode(sequence(lit(0), lit(times - 1))).as("copy"))
          .select((col("doc_id") * times + col("copy")).as("doc_id"),
            concat_ws(" ", transform(split(col("text"), " "),
              t => concat(t, lit("_"), col("copy")))).as("text"),
            col("lang"), col("source"), col("n_chars"))
      rep.select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$base/documents.parquet")
      base
    }
    def rmTree(p: java.nio.file.Path): Unit = {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
    def timeJob(dir: java.nio.file.Path): Double =
      (1 to iters).map { _ =>
        System.gc()
        val out = java.nio.file.Files.createTempDirectory("graft_scale_job_out")
        val t0 = System.nanoTime()
        graft.pipelines.CurationJob.run(spark, dir.toString, out.toString)
        val dt = (System.nanoTime() - t0) / 1e9
        rmTree(out)
        dt
      }.min
    val jobDir1 = jobCorpusDir(1)
    val jobWarmOut = // untimed warmup; its output tree is deleted like
      java.nio.file.Files.createTempDirectory("graft_scale_job_warm")
    graft.pipelines.CurationJob.run(spark, jobDir1.toString, // the timed ones'
      jobWarmOut.toString)
    rmTree(jobWarmOut)
    val tJob1 = timeJob(jobDir1)
    val jobDirK = jobCorpusDir(k)
    val tJobK = timeJob(jobDirK)
    rmTree(jobDir1); rmTree(jobDirK)

    // BPE trainer batching probe (VERDICT r11 #5): the trainer's scale
    // ceiling is the per-round driver scheduling floor — merges=64 at
    // batch=1 is 64 sequential census jobs; batch=8 applies up to 8
    // symbol-disjoint merges per census (~8× fewer rounds). Measured on
    // the 1× corpus (the loop cost is round-count-bound, not data-bound,
    // at this SF); merges/sec is the honest unit because batch=8 may
    // finish a round short when candidates overlap.
    val bpeDocs = replicate(1)
    val bpeMerges = 64
    def bpeRun(batch: Int): Unit =
      graft.operators.Curation.bpeWordSymbols(bpeDocs, "text", bpeMerges, batch)
        .write.mode("overwrite").format("noop").save()
    bpeRun(8) // untimed warmup (codegen + word-census JIT)
    def bpeTime(batch: Int): Double = {
      System.gc()
      val t0 = System.nanoTime()
      bpeRun(batch)
      (System.nanoTime() - t0) / 1e9
    }
    val tBpe1 = bpeTime(1)
    val tBpe8 = bpeTime(8)
    bpeDocs.unpersist()

    def j(x1: Double, xk: Double) =
      f"""{"x1":$x1%.3f,"x$k":$xk%.3f,"ratio":${xk / x1}%.2f}"""
    println(s"""{"probe":"scale","sf":"$sfDir","k":$k,"queries":{""" +
      s""""q85_curation_pass":${j(x1Pass, xkPass)},""" +
      s""""q22_minhash":${j(x1Mh, xkMh)},""" +
      s""""q37_lsh_pairs":${j(tLsh1, tLshK)},""" +
      f""""q37_lsh_pairs_rows12":{"x$k":$tLshKWide%.3f,"ratio_vs_x1_rows8":${tLshKWide / tLsh1}%.2f},""" +
      f""""q37_lsh_pairs_auto":{"x$k":$tLshKAuto%.3f,"ratio_vs_x1":${tLshKAuto / tLsh1}%.2f},""" +
      f""""q37_lsh_pairs_x$k2":{"auto_sec":$tLshK2Auto%.3f,"auto_width":$autoWidthK2,""" +
      f""""fixed12_sec":$tLshK2Fixed12%.3f,"auto_vs_fixed12":${tLshK2Auto / tLshK2Fixed12}%.2f,""" +
      f""""auto_ratio_vs_x$k":${tLshK2Auto / tLshKAuto}%.2f,"rows":$nK2},""" +
      f""""curation_job":{"x1":$tJob1%.3f,"x$k":$tJobK%.3f,"ratio":${tJobK / tJob1}%.2f},""" +
      s""""q49_connected_components":${j(tCc1, tCcK)},""" +
      s""""q101_bm25":${j(tBm1, tBmK)},""" +
      s""""q116_winnow_overlap":${j(tWin1, tWinK)},""" +
      s""""q143_cdc_census":${j(tCdc1, tCdcK)},""" +
      s""""q146_hash_embed":${j(tHe1, tHeK)},""" +
      s""""q162_165_classifier":${j(tClf1, tClfK)},""" +
      f""""q160_neardup_auto":{"x1":$t160x1%.3f,"x$k":$t160xK%.3f,"ratio":${t160xK / t160x1}%.2f,"width_x1":$w160x1,"width_x$k":$w160xK},""" +
      f""""q173_delta_sem":{"x1":$tD1%.3f,"x$k":$tDK%.3f,"ratio":${tDK / tD1}%.2f,"x${k}_rows12":$tDK12%.3f,"x$k2":$tDK2%.3f,"x${k2}_width":$autoWidthK2,"ratio_x$k2":${tDK2 / tD1}%.2f},""" +
      f""""q167_delta_lex":{"x1":$tLex1%.3f,"x$k":$tLexK%.3f,"ratio":${tLexK / tLex1}%.2f,"x$k2":$tLexK2%.3f,"ratio_x$k2":${tLexK2 / tLex1}%.2f,"index_rows_x$k2":$lexRowsK2},""" +
      f""""q183_store_probe":{"x1":$tStore1%.3f,"x$k":$tStoreK%.3f,"ratio":${tStoreK / tStore1}%.2f,"x$k2":$tStoreK2%.3f,"ratio_x$k2":${tStoreK2 / tStore1}%.2f,"band_buckets":[512,${512 * k},8192]},""" +
      s""""q168_unigram_train":${j(tUt1, tUtK)},""" +
      s""""q171_unigram_sample":${j(tUs1, tUsK)},""" +
      s""""q175_unigram_sample_rowwise":${j(tUr1, tUrK)},""" +
      f""""q175_rowwise_constlen":{"x1":$tUr1%.3f,"x$k":$tUrCK%.3f,"ratio":${tUrCK / tUr1}%.2f},""" +
      f""""bpe_train_m$bpeMerges":{"batch1_sec":$tBpe1%.3f,"batch8_sec":$tBpe8%.3f,""" +
      f""""batch1_merges_per_sec":${bpeMerges / tBpe1}%.2f,"batch8_merges_per_sec":${bpeMerges / tBpe8}%.2f,""" +
      f""""speedup":${tBpe1 / tBpe8}%.2f}}}""")
    spark.stop()
  }
}
