package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Harness.{deleteTree, materialize, minSeconds, withTempDir}

/** Skew-probe main: measures the heavy bucketed paths under HOT-KEY skew,
  * not just scale. Every ScaleProbe ×k point uses shingle/term-disjoint
  * copies — embarrassingly parallel by construction: no hot bucket, hot
  * term, or hot component label ever forms. That is precisely the failure
  * mode 100× real data brings (boilerplate templates, stop-words, giant
  * near-dup clusters), so this probe builds corpora with the hot thing IN
  * them and compares against benign corpora of the SAME size:
  *
  *   - q22 shape (MinHash banded pairs) under a TEMPLATE: 50% of docs
  *     share a template head (unique tails keep mutual Jaccard far below
  *     threshold — candidates are hot, output unchanged). Measured four
  *     ways: benign; skewed at the default bucket cap (inline
  *     enumeration); skewed at a corpus-scaled cap (the salted hot path
  *     ENGAGED — the census count printed proves it); skewed with
  *     `hotBucketDrop` (the boilerplate relief valve — near-benign time,
  *     output equality printed).
  *   - q37 shape (embedding LSH pairs) under a 50% HOT CLUSTER (mutual
  *     cos ≈ 0.7, below the 0.8 threshold): banded candidates go
  *     quadratic at the graded 8-bit width; the bias-aware auto sizing
  *     is the named fix (resolved width + runtime + pair-recall overlap
  *     all printed — wider bands trade banding-curve recall near the
  *     threshold, quantified rather than hidden).
  *   - q21 shape (exact PPJoin prefix pairs) under the same template:
  *     the hash-order prefix's documented trade measured biting, with
  *     the classic RARITY (df-ascending) order as the exact fix
  *     (output equality printed — any consistent global order keeps
  *     the prefix filter exact).
  *   - q99 shape (SemDeDup) under the hot cluster: the collapsed-cell
  *     O(cell²) cost, with the plane-bit sub-split measured at probe
  *     scale AND (env `SPARK_GRAFT_SKEW_BIGCELL=1`) at the ×5 replica
  *     where the quadratic term crosses over and the split wins.
  *   - q49 shape (connected components) under a GIANT STAR: one hub
  *     label covers 50% of nodes (hot dst key in the propagate join, hot
  *     comp key in the doubling join) vs same-size disjoint 4-cliques.
  *   - q101 shape (BM25) under a HOT TERM in 30% of docs, with a query
  *     containing it: the term-keyed exchange and df window concentrate
  *     that term's rows in one partition.
  *   - q116 shape (winnowing overlap) under the same template corpus:
  *     expected immune — the dfCap excises corpus-scale fingerprints
  *     from the inverted index by design.
  *
  * Prints ONE JSON line:
  * `{"probe":"skew","sf":...,"queries":{"q22_minhash":{"benign":s,
  * "skew":s,"ratio":r,...},...}}`. `ratio` ≈ 1 means the path absorbs
  * the skew; large ratios name their fix in the companion keys.
  */
object SkewProbe {
  /** 14-token template head (~27% of an average doc's shingles once the
    * ~40-token tail is appended): band-collision probability f² ≈ 0.07,
    * so the 5,000 hot docs form ~350-doc buckets per band — big enough
    * to exceed a corpus-scaled cap, small enough that the probe's
    * candidate volume (bands·bucket²/2 ≈ 2M) verifies in seconds. */
  val Template: String = (1 to 14).map(i => s"boiler$i").mkString(" ")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = sys.env.getOrElse("SPARK_GRAFT_SKEW_K", "2").toInt
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt
    val spark = Harness.session(Harness.envCpus(32))
    import spark.implicits._

    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "text")

    /** Decorated k× replicate (the ScaleProbe benign shape): remapped
      * ids, per-copy token suffixes — copies share no shingles. */
    def replicate(times: Int): DataFrame = {
      val r =
        if (times == 1) docs
        else docs
          .select(col("*"),
            explode(sequence(lit(0), lit(times - 1))).as("copy"))
          .select((col("doc_id") * times + col("copy")).as("doc_id"),
            col("lang"),
            concat_ws(" ", transform(split(col("text"), " "),
              t => concat(t, lit("_"), col("copy")))).as("text"))
      val out = r.localCheckpoint(); out.count(); out
    }

    def pinned(df: DataFrame): DataFrame = {
      val out = df.localCheckpoint(); out.count(); out
    }

    def time(df: => DataFrame, n: Int = iters): Double = minSeconds(n)(materialize(df))

    // ------------------------------------------------------------ corpora
    val benign = replicate(k) // 10k docs at sf0.1, k=2
    // template skew: every even doc becomes TEMPLATE + a ~40-token tail of
    // its own (still-unique) tokens — 50% of the corpus shares a hot head
    val templated = pinned(benign.select(
      col("doc_id"), col("lang"),
      when(col("doc_id") % 2 === 0,
        concat(lit(SkewProbe.Template), lit(" "),
          concat_ws(" ", slice(split(col("text"), " "), 1, 40))))
        .otherwise(col("text")).as("text")))

    // ------------------------------------------------- q22 minhash family
    def minhash(corpus: DataFrame, drop: Int = 0, cap: Int = 4096): DataFrame =
      graft.operators.Dedup.minHashPairs(
        corpus, "doc_id", "text", n = 3, threshold = 0.6,
        hotBucketDrop = drop, hotBucketCap = cap)
    materialize(minhash(benign)) // warmup
    val mhBenign = time(minhash(benign))
    val mhSkew = time(minhash(templated))
    // corpus-scaled cap (128 ≈ n/box at probe scale): the salted
    // hot-bucket self-join ENGAGES on the ~350-doc template buckets
    val mhSkewSalted = time(minhash(templated, cap = 128))
    val mhSkewDrop = time(minhash(templated, drop = 128))
    // proof the hot path had buckets to salt: census over the banded
    // index at the probed cap (the same count candidatePairs broadcasts)
    val mhHotBuckets = graft.operators.Dedup.minHashBandCensus(
      templated, "doc_id", "text", n = 3, over = 128)
    val mhPairsSkew = minhash(templated).count()
    val mhPairsDrop = minhash(templated, drop = 128).count()
    val mhPairsBenign = minhash(benign).count()

    // --------------------------------------------------- q37 lsh family
    val emb = pinned(
      graft.sources.Tables.embeddings(spark, sfDir)
        .filter(col("embedding").isNotNull).select("vec_id", "embedding"))
    val dim = 64
    val t0vec = emb.orderBy("vec_id").limit(1)
      .select("embedding").as[Seq[Float]].head()
    val tNorm = math.sqrt(t0vec.map(x => x.toDouble * x).sum)
    val tLit = array(t0vec.map(x => lit(x.toDouble)): _*)
    // hot cluster: 50% of vectors become t + 0.655·|t|·n̂ (pseudo-noise
    // from xxhash64, normalized) — mutual cos ≈ 1/(1+0.655²) ≈ 0.70
    // (below the 0.8 threshold: candidates hot, cluster pairs rejected)
    val beta = 0.655 * tNorm
    val noise = transform(sequence(lit(0), lit(dim - 1)), i =>
      (pmod(xxhash64(col("vec_id") * dim + i), lit(2000001)).cast("double")
        / lit(1000000.0)) - lit(1.0))
    val clustered = pinned(emb.select(col("vec_id"),
      when(col("vec_id") % 2 === 0,
        zip_with(tLit,
          transform(noise, x =>
            x / sqrt(aggregate(noise, lit(0.0), (a, x2) => a + x2 * x2))),
          (t, nn) => (t + lit(beta) * nn).cast("float")))
        .otherwise(col("embedding")).as("embedding")))
    def lsh(corpus: DataFrame, rows: Int): DataFrame =
      graft.operators.Similarity.lshNearDupPairs(
        corpus, "vec_id", "embedding", threshold = 0.8, rowsPerBand = rows)
    materialize(lsh(emb, 8)) // warmup
    val lshBenign = time(lsh(emb, 8))
    val lshSkew = time(lsh(clustered, 8))
    val lshSkewAuto = time(lsh(clustered, 0))
    val nClustered = math.max(clustered.count(), 1L)
    val autoWidth = graft.operators.Similarity.biasAwareRowsPerBand(
      nClustered,
      graft.operators.Similarity.planeAgreeProbs(clustered, "embedding",
        nClustered))
    val lshPairs8 = lsh(clustered, 8).select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    val lshPairsAuto = lsh(clustered, 0).select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    // the recall repair at the auto width: wide bands for candidate
    // volume + 1-plane flip probes for the near-threshold pairs the
    // widening loses (q156's operator, measured ON the skew workload)
    def mp(corpus: DataFrame): DataFrame =
      graft.operators.Similarity.lshNearDupPairsMultiProbe(
        corpus, "vec_id", "embedding", threshold = 0.8,
        rowsPerBand = autoWidth)
    materialize(mp(clustered)) // warmup
    val lshSkewMp = time(mp(clustered))
    val lshPairsMp = mp(clustered).select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet

    // ------------------------------------------------------- q49 cc star
    val nNodes = 20000L
    // benign: disjoint 4-cliques over all node ids
    val cliques = pinned(
      spark.range(nNodes / 4).select(explode(expr(
        "transform(flatten(transform(sequence(0,2), i -> " +
          "transform(sequence(i+1,3), j -> struct(i, j)))), " +
          "p -> struct(id*4 + p.i as id_a, id*4 + p.j as id_b))")).as("p"))
        .select(col("p.id_a"), col("p.id_b")))
    // skew: one star whose hub label covers 50% of nodes + 4-cliques
    val star = pinned(
      spark.range(1, nNodes / 2).select(lit(0L).as("id_a"), col("id").as("id_b"))
        .unionByName(
          spark.range(nNodes / 8).select(explode(expr(
            "transform(flatten(transform(sequence(0,2), i -> " +
              "transform(sequence(i+1,3), j -> struct(i, j)))), " +
              s"p -> struct(${nNodes / 2} + id*4 + p.i as id_a, " +
              s"${nNodes / 2} + id*4 + p.j as id_b))")).as("p"))
            .select(col("p.id_a"), col("p.id_b"))))
    def cc(pairs: DataFrame): DataFrame =
      graft.operators.Dedup.connectedComponents(pairs)
    materialize(cc(cliques)) // warmup
    val ccBenign = time(cc(cliques))
    val ccSkew = time(cc(star))

    // -------------------------------------------------- q101 bm25 hot term
    val hotTerm = "zzhotterm"
    val bmHot = pinned(benign.select(
      col("doc_id"), col("lang"),
      when(col("doc_id") % 10 < 3, concat(lit(hotTerm + " "), col("text")))
        .otherwise(col("text")).as("text")))
    val bmQueriesBenign = benign.filter(col("doc_id") < 10)
    val bmQueriesHot = pinned(bmQueriesBenign.select(col("doc_id"),
      when(col("doc_id") === 0, concat(lit(hotTerm + " "), col("text")))
        .otherwise(col("text")).as("text")))
    def bm25(corpus: DataFrame, queries: DataFrame): DataFrame =
      graft.functions.Bm25.topK(corpus, "doc_id", "text",
        queries, "doc_id", "text", k = 5)
    materialize(bm25(benign, bmQueriesBenign))
    val bmBenign = time(bm25(benign, bmQueriesBenign))
    val bmSkew = time(bm25(bmHot, bmQueriesHot))

    // -------------------------------------- q21 prefix filter (lexical)
    // the EXACT pair path under the template: the prefix order is
    // xxhash64 (its scaladoc: cheaper than the classic rarity order
    // "until bucket skew actually bites") — a template shingle with a
    // globally small hash lands in most hot docs' prefixes, so this
    // measures exactly where that trade starts to bite; the exact
    // operator may not drop buckets (dropping breaks exactness), so
    // the in-place mitigations are the cap/salt path and, if measured
    // superlinear, the rarity (df-ascending) prefix order
    def ngram(corpus: DataFrame, rarity: Boolean = false): DataFrame =
      graft.operators.Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        n = 3, threshold = 0.6, rarityOrder = rarity)
    materialize(ngram(benign)) // warmup
    val ngBenign = time(ngram(benign))
    val ngSkew = time(ngram(templated))
    // the named fix: classic PPJoin rarity (df-ascending) prefix order —
    // boilerplate shingles sort last and never form prefix buckets;
    // output is exact under any consistent order (equality printed)
    val ngSkewRarity = time(ngram(templated, rarity = true))
    val ngPairsSkew = ngram(templated).count()
    val ngPairsRarity = ngram(templated, rarity = true).count()

    // ------------------------------------------- q99 semdedup hot cell
    // the cell-bounded family's skew exposure: a 50% hot cluster lands
    // in ONE k-means cell, whose within-cell enumeration is O(cell²) —
    // the measured cost of the paper's per-cluster-all-pairs design
    // when the clustering collapses
    def sem(corpus: DataFrame, maxCell: Int = 0): DataFrame =
      graft.operators.Similarity.semDedup(
        corpus, "vec_id", "embedding", threshold = 0.8, maxCell = maxCell)
    materialize(sem(emb)) // warmup
    val semBenign = time(sem(emb))
    val semSkew = time(sem(clustered))
    // the named fix: plane-bit sub-split of over-bound cells (the cell
    // bound applied recursively); keep-count delta printed — the split
    // can only separate, never wrongly merge
    val semSkewSplit = time(sem(clustered, maxCell = 256))
    // the census-driven AUTO (-1): at probe scale the hot cell (~1k)
    // sits BELOW the crossover floor, so auto must stay off and run at
    // unsplit speed (plus one collapsed census)
    val semSkewAuto = time(sem(clustered, maxCell = -1))
    val semKeeps = sem(clustered).filter(col("keep") === 1L).count()
    val semKeepsSplit = sem(clustered, maxCell = 256)
      .filter(col("keep") === 1L).count()
    val semKeepsAuto = sem(clustered, maxCell = -1)
      .filter(col("keep") === 1L).count()
    // crossover point (env-gated — adds minutes): at probe scale the
    // split's fixed cost exceeds its ~2× candidate savings (plane
    // concentration limits how evenly a tight cluster splits); its
    // regime is cells ≳ 10⁴ where C(cell,2) verification dominates.
    // ×5 replica → 10k vectors, 5k-member hot cell: unsplit pays
    // ~C(5k,2) = 12.5M exact cosines, split ≥3 bits caps sub-cells.
    val bigCell = sys.env.get("SPARK_GRAFT_SKEW_BIGCELL").exists(_ == "1")
    val (semBig, semBigSplit, semBigAuto) =
      if (!bigCell) (0.0, 0.0, 0.0)
      else {
        val embBig = pinned(emb
          .select(col("*"), explode(sequence(lit(0), lit(4))).as("copy"))
          .select((col("vec_id") * 5 + col("copy")).as("vec_id"),
            col("embedding")))
        val clusteredBig = pinned(embBig.select(col("vec_id"),
          when(col("vec_id") % 2 === 0,
            zip_with(tLit,
              transform(noise, x =>
                x / sqrt(aggregate(noise, lit(0.0), (a, x2) => a + x2 * x2))),
              (t, nn) => (t + lit(beta) * nn).cast("float")))
            .otherwise(col("embedding")).as("embedding")))
        val a = time(sem(clusteredBig), n = 1)
        val b = time(sem(clusteredBig, maxCell = 256), n = 1)
        // the ~5k-member hot cell sits PAST the crossover floor: the
        // census-driven auto must engage and land near the split time
        val c = time(sem(clusteredBig, maxCell = -1), n = 1)
        (a, b, c)
      }

    // ------------------------------------------- composed CurationJob
    // the job-level skew row (VERDICT r13 #3): the composed pipeline's
    // dedup stage now census-chooses its prefix order
    // (ngramJaccardPairsAuto), so the 50%-template corpus must run
    // near-benign instead of paying the measured 4.4x hash-order tax.
    // Benign = the sf dir itself; skew = the same docs templated, same
    // size, written as a real parquet corpus (the job reads tables).
    val fullDocs = graft.sources.Tables.documents(spark, sfDir)
    val skewJobFrame = fullDocs.select(
      col("doc_id"),
      when(col("doc_id") % 2 === 0,
        concat(lit(SkewProbe.Template), lit(" "),
          concat_ws(" ", slice(split(col("text"), " "), 1, 40))))
        .otherwise(col("text")).as("text"),
      col("lang"), col("source"), col("n_chars"))
    val skewJobDir = java.nio.file.Files.createTempDirectory("graft_skewjob")
    skewJobFrame.write.mode("overwrite")
      .parquet(s"$skewJobDir/documents.parquet")
    // each run writes to a fresh output tree, deleted outside its timing
    def timedJob(dir: String): (Double, Map[String, Long]) = {
      var counts = Map.empty[String, Long]
      val t = (1 to iters).map(_ => withTempDir("graft_skewjob_out")(out =>
        minSeconds(1) {
          counts = graft.pipelines.CurationJob.run(spark, dir, out.toString)
        })).min
      (t, counts)
    }
    withTempDir("graft_skewjob_warm")(out => // untimed warmup
      graft.pipelines.CurationJob.run(spark, sfDir, out.toString))
    val (jobBenign, jobBenignCounts) = timedJob(sfDir)
    val (jobSkew, jobSkewCounts) = timedJob(skewJobDir.toString)
    deleteTree(skewJobDir)
    // the census decision the job made on each corpus (reported so the
    // ratio names its mechanism): sampled hot-shingle share vs the
    // engage threshold
    val shareBenign = graft.operators.Dedup
      .hotShingleShare(fullDocs, "doc_id", "text", n = 3)._1
    val shareSkew = graft.operators.Dedup
      .hotShingleShare(skewJobFrame, "doc_id", "text", n = 3)._1

    // ---------------------------------------------------- q116 winnowing
    def winnow(corpus: DataFrame): DataFrame =
      graft.operators.Dedup.winnowOverlap(corpus, "doc_id", "text",
        k = 3, w = 4, dfCap = 20, minShared = 2)
    materialize(winnow(benign)) // warmup
    val winBenign = time(winnow(benign))
    val winSkew = time(winnow(templated))

    def j2(b: Double, s: Double) =
      f""""benign":$b%.3f,"skew":$s%.3f,"ratio":${s / b}%.2f"""
    println(s"""{"probe":"skew","sf":"$sfDir","k":$k,"queries":{""" +
      s""""q22_minhash":{${j2(mhBenign, mhSkew)},""" +
      f""""skew_salted_cap128":$mhSkewSalted%.3f,"skew_drop128":$mhSkewDrop%.3f,""" +
      f""""drop_vs_benign":${mhSkewDrop / mhBenign}%.2f,""" +
      s""""hot_buckets_over_128":$mhHotBuckets,""" +
      s""""pairs_benign":$mhPairsBenign,"pairs_skew":$mhPairsSkew,""" +
      s""""pairs_skew_drop":$mhPairsDrop,""" +
      s""""drop_output_identical":${mhPairsSkew == mhPairsDrop}},""" +
      s""""q37_lsh_pairs":{${j2(lshBenign, lshSkew)},""" +
      f""""skew_auto":$lshSkewAuto%.3f,"auto_vs_benign":${lshSkewAuto / lshBenign}%.2f,""" +
      s""""auto_width":$autoWidth,"pairs_rows8":${lshPairs8.size},""" +
      s""""pairs_auto":${lshPairsAuto.size},""" +
      s""""pairs_common":${(lshPairs8 intersect lshPairsAuto).size},""" +
      f""""skew_multiprobe":$lshSkewMp%.3f,""" +
      s""""pairs_multiprobe":${lshPairsMp.size},""" +
      s""""pairs_mp_vs_rows8":${(lshPairs8 intersect lshPairsMp).size}},""" +
      s""""q21_ngram_prefix":{${j2(ngBenign, ngSkew)},""" +
      f""""skew_rarity":$ngSkewRarity%.3f,"rarity_vs_benign":${ngSkewRarity / ngBenign}%.2f,""" +
      s""""pairs_skew":$ngPairsSkew,"pairs_rarity":$ngPairsRarity,""" +
      s""""rarity_output_identical":${ngPairsSkew == ngPairsRarity}},""" +
      s""""q99_semdedup":{${j2(semBenign, semSkew)},""" +
      f""""skew_split256":$semSkewSplit%.3f,"split_vs_benign":${semSkewSplit / semBenign}%.2f,""" +
      f""""skew_auto":$semSkewAuto%.3f,"auto_vs_skew":${semSkewAuto / semSkew}%.2f,""" +
      s""""keeps_skew":$semKeeps,"keeps_split":$semKeepsSplit,""" +
      s""""auto_output_identical":${semKeepsAuto == semKeeps}""" +
      (if (semBig > 0.0)
        f""","bigcell_x5":$semBig%.3f,"bigcell_x5_split":$semBigSplit%.3f,""" +
          f""""bigcell_split_speedup":${semBig / semBigSplit}%.2f,""" +
          f""""bigcell_x5_auto":$semBigAuto%.3f,""" +
          f""""bigcell_auto_speedup":${semBig / semBigAuto}%.2f"""
       else "") + "}," +
      s""""q49_connected_components":{${j2(ccBenign, ccSkew)}},""" +
      s""""q101_bm25":{${j2(bmBenign, bmSkew)}},""" +
      s""""q116_winnow_overlap":{${j2(winBenign, winSkew)}},""" +
      s""""curation_job":{${j2(jobBenign, jobSkew)},""" +
      f""""hot_share_benign":$shareBenign%.4f,"hot_share_skew":$shareSkew%.4f,""" +
      s""""rarity_benign":${shareBenign > graft.operators.Dedup.RarityEngageShare},""" +
      s""""rarity_skew":${shareSkew > graft.operators.Dedup.RarityEngageShare},""" +
      s""""rows_benign":${jobBenignCounts.getOrElse("corpus_clean", 0L)},""" +
      s""""rows_skew":${jobSkewCounts.getOrElse("corpus_clean", 0L)},""" +
      s""""shards_benign":${jobBenignCounts.getOrElse("train_shards", 0L)},""" +
      s""""shards_skew":${jobSkewCounts.getOrElse("train_shards", 0L)}}}}""")
    spark.stop()
  }
}
