package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.pipelines.CurationJob
import graft.sources.Tables

/** `curation_step`: continuous-ingest steps against two managed stores.
  * Each step sends a document batch through
  * [[CurationJob.incrementalStep]] (probe the lexical near-dup store,
  * append the admitted rows) and a vector batch through
  * [[Similarity.signatureFrame]], [[Similarity.deltaSemNearDupFromStore]]
  * and [[Similarity.appendSignatureStore]]. Both roots are compacted
  * once, after step [[CompactAt]], and the retired versions deleted.
  * The run ends on the first step boundary after `seconds` (never before
  * the compaction).
  *
  * Set-up (once: a repetition costs a cold bootstrap) bootstraps both
  * stores from the corpus, side by side. There is no warm-up step: a
  * step costs about as much as the whole set-up, and a run has room for
  * one, so the timed step is the first step of a fresh ingest process,
  * JIT and code generation included.
  */
object CurationStep {
  /** Ids below `BenchCut` are the decontamination benchmark; both
    * stores are bootstrapped from documents `BenchCut` until
    * `CorpusDocs` and vectors below `CorpusVecs` (gen.py's constants). */
  val BenchCut = 25L
  val CorpusDocs = 1000L
  val CorpusVecs = 500L
  /** Store buckets: one per local core keeps a step's file count and
    * task count small at this corpus size. */
  val Buckets = 4
  val CompactAt = 0
  val SemThreshold = 0.9
  val DocId0 = 1000000L
  val VecId0 = 100000L

  def run(ctx: Ctx): Unit = {
    import ctx._
    val cur = s"$input/curation"
    val docs = Tables.documents(spark, tables)
    val bench = docs.filter(col("doc_id") < BenchCut)
    val corpus = docs.filter(col("doc_id") >= BenchCut && col("doc_id") < CorpusDocs)
    val emb = Tables.embeddings(spark, tables).filter(col("vec_id") < CorpusVecs)
    val docRows = mutable.ArrayBuffer.empty[Row]
    val vecRows = mutable.ArrayBuffer.empty[Row]
    val lex = s"$runDir/stores/lexical"
    val sem = s"$runDir/stores/semantic"

    def span[A](layer: String, name: String, s: Int)(f: => A): A =
      trace.span(layer, s"$name:$s")(f)

    def lexStep(s: Int): Unit = {
      val batch = spark.read.parquet(f"$cur/step$s%03d_docs.parquet")
      val dec = span("pipelines", "incrementalStep", s) {
        CurationJob.incrementalStep(spark, lex, batch, bench)
      }
      docRows ++= span("pipelines", "decisions", s)(dec.collect())
    }

    def semStep(s: Int): Unit = {
      val vecs = spark.read.parquet(f"$cur/step$s%03d_vecs.parquet")
      val decS = span("operators", "semProbe", s) {
        val idx = Similarity.signatureFrame(vecs, "vec_id", "embedding")
          .localCheckpoint()
        val d = Similarity.deltaSemNearDupFromStore(spark, sem,
          vecs.select("vec_id"), idx, "vec_id", threshold = SemThreshold)
          .localCheckpoint()
        (idx, d)
      }
      span("operators", "semAppend", s) {
        Similarity.appendSignatureStore(spark, sem, decS._1.join(
          decS._2.filter(col("status") === "new")
            .select(col("vec_id").as("id")), "id"))
      }
      vecRows ++= decS._2.collect()
    }

    // set-up: bootstrap both stores; they are disjoint, so side by side
    val setupStart = System.nanoTime()
    trace.span("operators", "storeInit") {
      Main.sideBySide(
        () => Dedup.initManagedNearDupIndexStore(spark, lex,
          Dedup.nearDupIndex(corpus, "doc_id", "text", n = 3),
          bands = 32, bandBuckets = Buckets, idBuckets = Buckets),
        () => Similarity.initManagedSignatureStore(spark, sem,
          Similarity.signatureFrame(emb, "vec_id", "embedding"),
          rowsPerBand = 8, bandBuckets = Buckets, idBuckets = Buckets))
    }
    val reps = Seq(Main.secondsSince(setupStart))
    result("setup_reps_s") = reps
    result("setup_s") = result("session_s").asInstanceOf[Double] + reps.head
    Main.note("set-up done")

    val lat = mutable.ArrayBuffer.empty[Double]
    var compactMs = 0.0
    val start = System.nanoTime()
    var s = 0
    while (Main.secondsSince(start) < seconds || s <= CompactAt) {
      val t0 = System.nanoTime()
      trace.span("pipelines", s"step:$s") { lexStep(s); semStep(s) }
      lat += (System.nanoTime() - t0) / 1e6
      if (s == CompactAt) {
        val t1 = System.nanoTime()
        trace.span("operators", "compact") {
          // the retention cut drops bootstrap rows with id % 7 = 0 and
          // keeps every batch row admitted so far
          def keep(base: DataFrame, id0: Long): DataFrame =
            base.filter(col("id") % 7 =!= 0)
              .union(spark.range(id0, id0 + 1000L * (CompactAt + 1)).toDF())
          val keepDocs = keep(corpus.select(col("doc_id").as("id")), DocId0)
          val keepVecs = keep(emb.select(col("vec_id").as("id")), VecId0)
          val retired = Seq(Dedup.compactManagedStore(spark, lex, keepDocs),
            Similarity.compactManagedSignatureStore(spark, sem, keepVecs))
          retired.foreach(d => deleteTree(Paths.get(new java.net.URI(d).getPath)))
        }
        compactMs = (System.nanoTime() - t1) / 1e6
      }
      s += 1
    }
    val elapsed = Main.secondsSince(start)
    result("heap_live_mb") = liveHeapMb()
    val items = docRows.size + vecRows.size
    result("steps") = s
    result("latency_ms") = lat
    result("latency_p50_ms") = Main.median(lat.toSeq)
    result("ops_per_s") = s / elapsed
    result("items_per_s") = items / elapsed
    result("compact_ms") = compactMs
    val files = Seq(lex, sem).flatMap(r => walk(Paths.get(r)))
    result("store_mb") = files.map(Files.size(_)).sum / (1024.0 * 1024.0)
    result("store_files") = files.size

    Main.note("timed phase done")
    // untimed: decisions and store contents for the checks
    def dump(rows: Seq[Row], cols: Seq[String], path: String): Unit =
      spark.createDataFrame(rows.asJava, rows.headOption.map(_.schema)
        .getOrElse(throw new IllegalStateException(s"no rows for $path")))
        .select(cols.map(col): _*).coalesce(1)
        .write.mode("overwrite").parquet(path)
    dump(docRows.toSeq, Seq("doc_id", "keep", "reasons", "status", "dup_of", "curated"),
      s"$runDir/out/doc_decisions")
    dump(vecRows.toSeq, Seq("vec_id", "status", "dup_of"), s"$runDir/out/vec_decisions")
    spark.read.parquet(s"${Dedup.resolveStoreDir(spark, lex)}/payload").select("id")
      .coalesce(1).write.mode("overwrite").parquet(s"$runDir/out/lexical_ids")
    Similarity.readSignatureStore(spark, sem).select("id")
      .coalesce(1).write.mode("overwrite").parquet(s"$runDir/out/semantic_ids")
    result("last_step") = s - 1
  }

  def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally w.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally w.close()
    }
}
