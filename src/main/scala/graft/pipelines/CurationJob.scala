package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.Harness
import graft.expressions.BroadcastLookup
import graft.operators.{Curation, Dedup, IndexStore, Redact, Splits}
import graft.sources.Tables

/** The composed training-data builder: every curation operator chained
  * into the pipeline a user actually runs over a raw document corpus —
  *
  *   quality verdict (repetition signals → rule table) → PII scrub →
  *   near-dup KEEP LIST (n-gram Jaccard pairs → components → elected
  *   representative) → benchmark decontamination → mixture execution
  *   (weights → deterministic up/down-sampled copies) → permanent
  *   train/val/test split → shard assignment + sequence packing of the
  *   train split
  *
  * writing five tables: `corpus_clean` (the surviving, scrubbed,
  * resampled, split corpus), `quality_report` (every doc's verdict with
  * reasons), `dedup_decisions` (the full keep list), `mixture_report`
  * (per-stratum weights), and `train_shards` (every train row's shard,
  * in-shard position, and packed sequence bin — the physical layout a
  * tokenizer run consumes).
  *
  * Composition discipline (the lesson of the reference's batch job,
  * which re-read its input per pipeline): each expensive frame is
  * computed ONCE — the scored corpus is cached and feeds the verdict
  * report, the dedup stage, and the final output; the keep list is
  * cached and feeds both `dedup_decisions` and the survivor filter.
  * Every stage is a narrow projection or an already-scale-shaped
  * operator (broadcast benchmark grams, banded pair generation,
  * hash-deterministic sampling), so the job inherits the per-operator
  * 100 TB posture; row counts ride the writes via `observe()` — no
  * second scan per output.
  */
object CurationJob {

  /** The default verdict rule table (q71's thresholds over
    * [[graft.operators.Curation.repetitionStats]] columns).
    */
  val DefaultRules: Seq[(String, Column)] = Seq(
    "too_short" -> (col("n_tokens") < 20),
    "low_diversity" -> (col("distinct_ratio") < 0.35),
    "top_heavy" -> (col("top_word_frac") > 0.15),
    "dup_bigrams" -> (col("dup_bigram_frac") > 0.09))

  /** Shard count and per-sequence token budget for the train layout. */
  val NumShards = 8
  val PackBudget = 1024

  /** BPE model size for `tokenizer = "bpe"`: 64 merges applied in
    * symbol-disjoint batches of 8 (the measured ~6× round-count saving
    * over batch-1 — BASELINE.md's trainer-batching probe). */
  val BpeMerges = 64
  val BpeBatch = 8

  /** Verdicts for EVERY corpus doc. The repetition-signal frame drops
    * docs with no bigram (its word/bigram aggregates inner-join), but
    * the report must audit the whole corpus — so signals are
    * left-joined back with a narrow token-count fallback: a 1-token doc
    * gets `n_tokens` from the fallback and null for the other signals
    * (null rule comparisons are false), so the too_short rule still
    * convicts it instead of the doc silently vanishing from every
    * output table.
    */
  def fullVerdicts(corpus: DataFrame, rules: Seq[(String, Column)],
                   extraSignals: Option[DataFrame] = None): DataFrame = {
    // fallback counts SPLIT-BY-SPACE tokens — the same tokenization the
    // signal path aggregates — not the \S+ regex count: a tab/newline-
    // separated doc is ONE space-token (so too_short convicts it), while
    // the regex would count every word and let it through with null
    // signals and empty reasons
    val signals = corpus
      .select(col("doc_id"),
        size(graft.functions.TextFns.tokens(col("text"))).cast("long").as("__nt"))
      .join(Curation.repetitionStats(corpus, "doc_id", "text"),
        Seq("doc_id"), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), col("__nt")))
      .drop("__nt")
    val joined = extraSignals.fold(signals)(
      signals.join(_, Seq("doc_id"), "left"))
    Curation.qualityVerdict(joined, "doc_id", rules)
  }

  /** Per-doc classifier scores for the opt-in model-based quality rule:
    * a [[graft.operators.Curation.rocchioTrain]]ed model over the
    * corpus's own hash embeddings, seeded by `seed`-keyword presence
    * (the q162–q165 weak-supervision family), one extra signal column
    * `clf_score` to rule on. Training is one partial-aggregated corpus
    * pass; scoring is a stateless projection — the job's composition
    * discipline is untouched. Null-text docs score null, and null rule
    * comparisons are false by the verdict convention, so the classifier
    * rule never convicts what it could not read.
    */
  def classifierSignals(corpus: DataFrame, seed: String,
                        gate: Boolean = false): DataFrame = {
    val toks = graft.functions.TextFns.tokens(col("text"))
    val feats = corpus.select(col("doc_id"),
      array_contains(toks, seed).as("y"),
      graft.expressions.HashEmbedVec(toks, 64).as("embedding"))
    val scored = Curation.logisticScore(feats, "embedding",
      Curation.rocchioTrain(feats.filter(col("embedding").isNotNull),
        "embedding", col("y")))
    if (!gate) scored.select(col("doc_id"), col("score").as("clf_score"))
    else
      // Pareto selection (q165's paretoGate composed job-side): the keep
      // decision is the derandomized GPT-3 draw, surfaced as one more
      // signal column. A null score (unreadable doc) yields a NULL
      // clf_kept — paretoGate's otherwise(0) would convict it, and the
      // job's contract is that the classifier never convicts what it
      // could not read (null rule comparisons are false).
      Curation.paretoGate(scored, "doc_id", "score")
        .select(col("doc_id"), col("score").as("clf_score"),
          when(col("score").isNull, lit(null)).otherwise(col("kept"))
            .cast("long").as("clf_kept"))
  }

  /** One CONTINUOUS-INGEST curation step — the job-level incremental
    * entry point (VERDICT r17 #3): the operator-level continuous-ingest
    * contract (q167/q177/q183–q185's store-backed delta family)
    * composed with the stateless per-doc pass into the step a streaming
    * or micro-batch pipeline runs per arriving batch. Batch in →
    * per-doc decisions out, with the standing near-dup index STORE at
    * `storePath` grown by exactly the admitted rows:
    *
    *   1. [[graft.operators.Curation.curationPass]] — repetition
    *      signals, benchmark 5-gram contamination, quality verdict,
    *      PII scrub — one narrow stream-safe projection (its no-bigram
    *      drop is the pass's documented contract);
    *   2. store-backed delta near-dup of the quality SURVIVORS against
    *      the standing corpus
    *      ([[graft.operators.Dedup.deltaNearDupFromStore]] — bucket-
    *      pruned reads, never an O(index) exchange);
    *   3. admit: survivors classified `new` append to the store — their
    *      [[graft.operators.Dedup.nearDupIndex]] rows were already
    *      computed for the probe (the q177 shared-frame shape);
    *   4. output: one row per pass-surviving batch doc —
    *      `(idCol, keep, reasons, status, dup_of, curated)` where
    *      `status`/`dup_of` are null for quality-rejected docs (they
    *      never reach dedup, matching the batch job's stage order) and
    *      `curated = 1` iff kept AND first of its content
    *      (`status = new`) — exactly the rows a downstream writer
    *      lands.
    *
    * The decisions are local (the small-delta probe) or
    * `localCheckpoint`ed before the append, so the returned frame is
    * stable against the store growth it itself caused. A pipeline
    * bootstraps the store once from its existing
    * corpus via [[graft.operators.IndexStore.write]] (the
    * q183-graded write path) and periodically runs the reband /
    * compaction maintenance ([[graft.operators.IndexStore.reband]],
    * [[graft.operators.IndexStore.compact]]; q187-graded).
    *
    * PINNED CONTRACT — shingle-less survivors (r18 verdict #1's edge):
    * a quality-surviving doc with fewer than `n` tokens has no
    * [[graft.operators.Dedup.nearDupIndex]] row, classifies `new`, and
    * appends NOTHING to the store — so an identical short doc in every
    * later batch classifies `new` again, forever. This is deliberate,
    * not an oversight (PipelineJobSpec pins it): near-dup similarity is
    * undefined on an empty shingle set, and admitting a synthetic row
    * would make the store's Jaccard semantics partial. Under the
    * [[DefaultRules]] table the edge is unreachable (`too_short`
    * convicts below 20 tokens ≥ any sane `n`); a pipeline that relaxes
    * the rules below `n` tokens opts into the composed EXACT stage via
    * `shortDocExact` (VERDICT r19 #3): shingle-less quality survivors
    * route through [[graft.operators.Dedup.deltaDedupFromFingerprintStore]]
    * — the q74 `deltaDedup` contract against the store's persisted
    * `exact/` side table ([[graft.operators.Dedup.writeFingerprintStore]];
    * absent reads as empty, so the flag can be enabled on a standing
    * store) — their `new` fingerprints are admitted alongside the
    * near-dup admit, and their decisions replace the fall-through
    * `new`s in the output. Shingle-BEARING docs never touch the exact
    * leg (identical long texts have J = 1.0 — the Jaccard store
    * already catches them), so the merge is a disjoint union. Every
    * store rewrite (compaction, reband, managed maintenance) carries
    * `exact/` along as the lexical kind's side table.
    */
  def incrementalStep(spark: SparkSession, storePath: String,
                      batch: DataFrame, benchmark: DataFrame,
                      rules: Seq[(String, Column)] = DefaultRules,
                      idCol: String = "doc_id", textCol: String = "text",
                      threshold: Double = 0.6, n: Int = 3,
                      idempotent: Boolean = false,
                      shortDocExact: Boolean = false): DataFrame = {
    // ONE materialization serves the pass AND the batch's index frame
    // (optimization round 21, guide §1.2 — fewer driver-sync jobs): the
    // previous shape checkpointed the pass, then ran a SECOND job (plus
    // shingleFrame's id exchange) checkpointing nearDupIndex(kept) —
    // but the index columns are a narrow projection of the same rows,
    // so they ride the pass's checkpoint as three extra columns
    // computed only for kept docs (identical expressions to
    // [[graft.operators.Dedup.nearDupIndex]]: distinct shingle set,
    // sorted xxhash64 array, 64-way MinHash signature). A kept doc with
    // no shingles carries a null `__graft_sh` — exactly the rows
    // nearDupIndex's size>0 filter drops — which also hands the
    // shortDocExact leg its routing split without the old anti-join.
    def phase[T](step: String)(f: => T): T =
      Harness.phase(spark, s"store-step ${IndexStore.Lexical.name}: $step")(f)
    val sh0 = graft.functions.TextFns.shingles(col(textCol), n)
    val fused = phase("pass")(Curation.curationPass(batch, benchmark, idCol,
        textCol, rules)
      // hash-spread on the id BEFORE the index kernels: the pass plan
      // inherits the scan's few input partitions, and the 64-hash
      // MinHash kernel needs the same spread shingleFrame's
      // repartition(id) gave the old second checkpoint — without it the
      // fused job ran the heavy kernel near-serially (measured: q191
      // 11.8 → 13.9 s on the unspread variant)
      .repartition(col(idCol))
      .withColumn("__graft_sh",
        when(col("keep") === 1L && size(sh0) > 0, sh0))
      .withColumn("__graft_hs", when(col("__graft_sh").isNotNull,
        sort_array(graft.expressions.XxHash64Array(col("__graft_sh")))))
      .withColumn("__graft_sig", when(col("__graft_sh").isNotNull,
        graft.expressions.MinHashSig(col("__graft_sh"), 64)))
      .localCheckpoint())
    val pass = fused.drop("__graft_sh", "__graft_hs", "__graft_sig")
    val kept = pass.filter(col("keep") === 1L)
    val idx = fused
      .filter(col("keep") === 1L && col("__graft_sh").isNotNull)
      .select(col(idCol).as("id"), col("__graft_sh").as("sh"),
        col("__graft_hs").as("hs"), col("__graft_sig").as("sig"))
    // a small delta takes the shuffle-free probe, whose decisions and
    // admitted rows come back as local frames (IndexStore.probe)
    val probe = IndexStore.probe(spark, IndexStore.Lexical, storePath,
      kept.select(col(idCol)), idx, idCol, threshold)
    val decNear = probe.decisions
    // the exact-leg decisions (shortDocExact) are computed here but the
    // fingerprint append is DEFERRED to run concurrently with the
    // near-dup admit below (guide §2.6 — the two appends touch disjoint
    // store tables and neither feeds the other; within-step decision
    // frames are checkpointed before either append runs). `short` is a
    // narrow projection of the fused checkpoint (keep = 1, null
    // shingles), so it needs no checkpoint of its own.
    val exactLeg =
      if (!shortDocExact) None
      else phase("exact") {
        val short = fused
          .filter(col("keep") === 1L && col("__graft_sh").isNull)
          .select(col(idCol).as("id"),
            graft.functions.TextFns.fingerprint(col(textCol)).as("fp"))
        val exactDec = Dedup.deltaDedupFromFingerprintStore(spark,
          storePath, short).localCheckpoint()
        Some((short, exactDec))
      }
    val dec = exactLeg.fold(decNear) { case (short, exactDec) =>
      decNear
        .join(short.select(col("id").as(idCol)), Seq(idCol), "left_anti")
        .unionByName(exactDec.withColumnRenamed("id", idCol))
    }
    // the decisions are fixed before the append grows the store. The
    // small path's (at most MaxDeltaRows) become a lookup table, so the
    // result is one scan of the pass checkpoint in one job (a join would
    // broadcast them in a job of its own); others are checkpointed.
    val base = pass.select(col(idCol), col("keep"), col("reasons"))
    val (decided, admit) = probe.admitted match {
      case Some(admitted) =>
        val rows = phase("decisions")(dec.select(col(idCol).cast(LongType),
          col("status"), col("dup_of").cast(LongType)).collect())
        val table = spark.sparkContext.broadcast(IndexStore.lookupTable(
          DecisionType, rows.collect { case Row(id: Long, status, dupOf) =>
            id -> Row(status, dupOf) }))
        (base.select(col("*"), explode_outer(BroadcastLookup(
            col(idCol).cast(LongType), table, DecisionType)).as("__dec"))
          .select(col("*"), col("__dec.*")), admitted)
      case None =>
        val fixed = phase("decisions")(dec.localCheckpoint())
        // the exact leg decides only shingle-less ids, which idx never holds
        (base.join(fixed, Seq(idCol), "left"),
          idx.join(fixed.filter(col("status") === "new")
            .select(col(idCol).as("id")), "id"))
    }
    // `idempotent` buys replay safety for foreachBatch sinks (the
    // [[graft.streaming.CurationStream]] path): a batch that crashed
    // after its append re-runs, re-probes a store already holding its
    // own rows (decisions converge — the delta cross leg excludes
    // self-pairs), and must not append them twice. Graded/batch callers
    // keep the plain append (fresh stores, no replay, one less read).
    IndexStore.inParallel(
      if (idempotent)
        IndexStore.appendIdempotent(spark, IndexStore.Lexical, storePath, admit)
      else
        IndexStore.append(spark, IndexStore.Lexical, storePath, admit),
      exactLeg.foreach { case (short, exactDec) =>
        phase("exact")(Dedup.appendFingerprintStore(spark, storePath,
          short.join(exactDec.filter(col("status") === "new")
            .select("id"), "id"),
          idempotent))
      })
    decided.select(col(idCol), col("keep"), col("reasons"), col("status"),
        col("dup_of"),
        when(col("keep") === 1L && col("status") === "new", 1L)
          .otherwise(0L).as("curated"))
  }

  /** A decision as [[incrementalStep]] attaches it to a pass row. */
  private val DecisionType = StructType(Seq(
    StructField("status", StringType), StructField("dup_of", LongType)))

  /** Execute the full build over `documents`: `benchCut` ids below this
    * bound play the held-out eval set (decontamination benchmark), the
    * rest are the trainable corpus. Returns (table → rows written).
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          rules: Seq[(String, Column)] = DefaultRules,
          targets: Seq[(String, Double)] = Seq("en" -> 0.6, "de" -> 0.2,
            "es" -> 0.1, "fr" -> 0.06, "zh" -> 0.04),
          benchCut: Long = 25L,
          clfSeed: Option[String] = None,
          clfFloor: Double = 0.5,
          clfGate: Boolean = false,
          encodeTokens: Boolean = false,
          tokenizer: String = "unigram"): Map[String, Long] = {
    require(Seq("unigram", "bpe", "greedy").contains(tokenizer),
      s"tokenizer must be unigram, bpe, or greedy, got $tokenizer")
    val docs = Tables.documents(spark, sfDir)
    val bench = docs.filter(col("doc_id") < benchCut)
    // NOTE (round 21, measured): an input-layout-adaptive spread of the
    // corpus (guide §2.5) was tried here and REVERTED — min-of-5 job
    // time went 9.9 → 27.9 s: the job's frames are cached/checkpointed
    // and re-joined against `corpus` throughout, so the extra exchange
    // multiplied through every consumer instead of amortizing
    val corpus = docs.filter(col("doc_id") >= benchCut)

    // 1. verdict over repetition signals — every doc gets one; with
    // `clfSeed` set, the q162-family model-based rule joins the table
    // (rules are data, so the learned score convicts like any other
    // signal; default OFF — the rule-based contract is unchanged)
    val (effRules, extraSignals) = clfSeed match {
      case None => (rules, None)
      case Some(kw) if clfGate =>
        // ALTERNATIVE selection stage: the stochastic Pareto keep (q165)
        // instead of the hard clfFloor cut — tail diversity preserved,
        // the conviction is still just a rule over a signal column
        (rules :+ ("clf_pareto_drop" -> (col("clf_kept") === 0L)),
          Some(classifierSignals(corpus, kw, gate = true)))
      case Some(kw) =>
        (rules :+ ("clf_out_of_domain" -> (col("clf_score") < clfFloor)),
          Some(classifierSignals(corpus, kw)))
    }
    val verdicts = fullVerdicts(corpus, effRules, extraSignals)
    val scored = corpus
      .join(verdicts, "doc_id")
      .withColumn("n_tokens", graft.functions.TextFns.tokenCount(col("text")))
      .cache()
    try {
      val kept = scored.filter(col("keep") === 1L)

      // 2. near-dup keep list over the quality survivors — prefix order
      // census-chosen (ngramJaccardPairsAuto): template-skewed corpora
      // engage the rarity order measured 2.5x faster there, benign ones
      // keep hash order; the pair output is exact under either
      val keepList = Dedup.keepList(
        kept.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars",
        Dedup.ngramJaccardPairsAuto(kept, "doc_id", "text",
          n = 3, threshold = 0.6)).cache()
      try {
        val deduped = kept.join(
          keepList.filter(col("keep") === 1L).select("doc_id"), "doc_id")

        // 3. decontamination: drop anything sharing a 5-gram with bench
        val contaminated = Curation.decontaminate(deduped, bench,
          "doc_id", "text", n = 5).select("doc_id")
        val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")

        // 4. mixture weights from the CLEAN corpus, then execution + split
        val weights = Curation.mixtureWeights(clean, "lang",
          col("n_tokens"), targets)
        // cached: feeds both the corpus_clean write and the train layout
        val corpusClean = Splits.withSplit(
          Curation.applyMixture(
            Redact.scrub(clean, "text")
              .select(col("doc_id"), col("lang"),
                col("scrubbed").as("text"), col("n_tokens")),
            "doc_id", "lang", weights),
          "doc_id").cache()

        // 5. physical train layout: mixture copies get a composite row
        // id (doc_id:copy), a deterministic shard + in-shard position,
        // and a packed sequence bin per shard — all pure functions of
        // ids, so the layout is reproducible. packSequences keys the
        // running sum on the in-shard position and returns only the
        // packing columns, so the bin is joined back on (shard, pos) —
        // an equi-join on the partitioning the window just produced.
        //
        // With `encodeTokens` (opt-in): shard/pack over REAL MODEL
        // TOKENS instead of the whitespace proxy — a unigram-LM
        // vocabulary is trained on the TRAIN split only (leakage-safe:
        // the tokenizer never sees val/test text; the model is a
        // bounded piece table) and every row's count comes from the
        // compiled rowwise Viterbi kernel as one narrow projection
        // (zero extra shuffle in the layout; the training cost is the
        // q168-graded census-frame EM). The scrubbed text is what the
        // vocabulary trains on and what the counts are taken over —
        // the text a tokenizer run would actually consume.
        val trainRows = corpusClean.filter(col("split") === "train")
          .withColumn("row_id",
            concat_ws(":", col("doc_id"), col("copy")))
        val (packRows, packOn, layoutCols) =
          if (!encodeTokens)
            (trainRows, "n_tokens",
              Seq("doc_id", "copy", "lang", "n_tokens"))
          else {
            // the `tokenizer` parameter picks which member of the
            // compiled trio counts: all three train on the TRAIN split
            // only (leakage-safe) and count via their plan-constant
            // rowwise kernel — one narrow projection, zero extra
            // shuffle in the layout either way
            val counted = tokenizer match {
              case "bpe" =>
                Curation.bpeTokenCountRowwiseFromMerges(trainRows, "text",
                  Curation.bpeTrainLoop(trainRows, "text", BpeMerges,
                    BpeBatch)._2,
                  outCol = "n_model_tokens")
              case kind =>
                val vocab = Curation.unigramLmTrain(trainRows, "text",
                  rounds = 2, vocabTarget = 64, maxPieceLen = 4)
                if (kind == "greedy")
                  Curation.wordPieceTokenCountRowwiseFromVocab(trainRows,
                    "text", vocab, maxPieceLen = 4,
                    outCol = "n_model_tokens")
                else
                  Curation.unigramTokenCountRowwiseFromVocab(trainRows,
                    "text", vocab, maxPieceLen = 4,
                    outCol = "n_model_tokens")
            }
            // null-text rows yield a null count; they must not reach
            // packSequences, whose per-shard running sum and bin
            // assignment a single null would poison (q178's oracle
            // applies the same IS NOT NULL filter)
            (counted.filter(col("n_model_tokens").isNotNull),
              "n_model_tokens",
              Seq("doc_id", "copy", "lang", "n_tokens", "n_model_tokens"))
          }
        val sharded = Curation.shardAssign(packRows, "row_id", NumShards)
        val bins = Curation.packSequences(sharded, "pos", col(packOn),
            "shard", PackBudget)
          .select(col("shard"), col("pos"), col("bin"))
        val trainShards = sharded
          .join(bins, Seq("shard", "pos"))
          .select((layoutCols.map(col) ++
            Seq(col("shard"), col("pos"), col("bin"))): _*)

        try {
          val tables: Seq[(String, DataFrame)] = Seq(
            "corpus_clean" -> corpusClean,
            // projected from the CACHED scored frame, not the raw
            // verdicts plan — Spark's cache matches whole canonicalized
            // plans, so writing `verdicts` would re-run the full signal
            // pass from the source scan
            "quality_report" -> scored.select("doc_id", "keep", "reasons"),
            "dedup_decisions" -> keepList,
            "mixture_report" -> weights,
            "train_shards" -> trainShards)
          writeTables(outDir, tables)
        } finally corpusClean.unpersist()
      } finally keepList.unpersist()
    } finally scored.unpersist()
  }

  /** Write `tables` as parquet under `outDir` and return each one's row
    * count. The head table is written FIRST and alone: in [[run]] its plan
    * computes (and fills) the caches every other table reads. The rest
    * are then independent jobs over warm caches, written side by side on
    * [[IndexStore.inParallel]] so each job's tasks back-fill the slots the
    * previous job's tail would leave idle; the first failed write cancels
    * the others' jobs and is rethrown. Output tables and row
    * counts are identical to a sequential loop.
    */
  private[graft] def writeTables(outDir: String,
                                 tables: Seq[(String, DataFrame)]): Map[String, Long] = {
    def writeOne(name: String, df: DataFrame): (String, Long) = {
      val obs = org.apache.spark.sql.Observation(s"graft_curation_$name")
      df.observe(obs, count(lit(1)).as("n_rows"))
        .write.mode("overwrite").parquet(s"$outDir/$name")
      name -> obs.get("n_rows").asInstanceOf[Long]
    }
    val first = writeOne(tables.head._1, tables.head._2)
    (first +: IndexStore.inParallel(tables.tail.map { case (n, df) =>
      () => writeOne(n, df) })).toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = Harness.session(Harness.envCpus(4))
    val counts = run(spark, sfDir, outDir)
    counts.toSeq.sortBy(_._1).foreach { case (t, n) => println(s"[curationjob] $t: $n rows") }
    spark.stop()
  }
}
