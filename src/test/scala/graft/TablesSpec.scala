package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.sources.Tables

/** The schema memo in [[Tables.load]]: a repeat load of an unchanged
  * table runs no Spark job and reads the same rows; a table rewritten in
  * place, or read under another schema-affecting conf, misses; racing
  * loads agree. Plus a source guard that keeps input-table reads inside
  * `sources/Tables.scala`, so no query bypasses the memo.
  */
class TablesSpec extends SparkSpec {
  private lazy val sess = spark
  import sess.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** Run `body` and count the Spark jobs it starts on this thread. */
  private def jobCount[T](body: => T): (T, Int) = {
    val (out, jobs) = jobsStartedBy(body)
    (out, jobs.size)
  }

  private def rows(df: DataFrame): Seq[Row] = df.orderBy("id").collect().toSeq

  /** One Spark-written parquet data file holding `df`. */
  private def partFile(df: DataFrame): Path = {
    val out = tmp("graft_tables_part")
    df.coalesce(1).write.mode("overwrite").parquet(s"$out/t")
    val w = Files.list(Paths.get(s"$out/t"))
    try w.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    finally w.close()
  }

  test("a second load of an unchanged table runs no Spark job and reads the same rows") {
    val dir = tmp("graft_tables_memo")
    Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)).toDF("id", "name", "x")
      .coalesce(1).write.parquet(s"$dir/t.parquet")
    val (first, firstJobs) = jobCount(Tables.load(spark, dir, "t"))
    val (second, secondJobs) = jobCount(Tables.load(spark, dir, "t"))
    // the first load infers the schema in a job: the counter sees jobs
    assert(firstJobs >= 1, "the inference job of the first load was not counted")
    assert(secondJobs == 0, s"a repeat load started $secondJobs Spark job(s)")
    assert(second.schema == first.schema)
    assert(second.head() == first.head())
    assert(rows(second) == rows(first))
  }

  test("a table rewritten in place with other columns misses the memo") {
    val dir = tmp("graft_tables_rewrite")
    val table = Paths.get(s"$dir/t.parquet")
    Files.copy(partFile(Seq((1L, "a")).toDF("id", "name")), table)
    assert(Tables.load(spark, dir, "t").schema.fieldNames.toSeq == Seq("id", "name"))
    Files.copy(partFile(Seq((1L, 2.0, true)).toDF("id", "score", "flag")), table,
      StandardCopyOption.REPLACE_EXISTING)
    val rewritten = Tables.load(spark, dir, "t")
    assert(rewritten.schema.fieldNames.toSeq == Seq("id", "score", "flag"))
    assert(rewritten.head() == Row(1L, 2.0, true))
  }

  test("the nanos fixture: nanosAsLong is part of the key, in one session") {
    val dir = tmp("graft_tables_nanos")
    val in = getClass.getResourceAsStream("/fixtures/events_ts_nanos.parquet")
    assert(in != null, "missing committed fixture events_ts_nanos.parquet")
    try Files.copy(in, Paths.get(dir, "events.parquet")) finally in.close()
    // a child session: its conf changes stay out of the shared session
    val s = spark.newSession()
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    s.conf.set(nanos, "true")
    val asLong = Tables.load(s, dir, "events")
    assert(asLong.schema("ts").dataType == LongType)
    assert(asLong.head() != null)
    // without the conf, inference must run again: Spark reads
    // TIMESTAMP(NANOS) as a timestamp or rejects it, but never as the
    // remembered LongType
    s.conf.set(nanos, "false")
    scala.util.Try(Tables.load(s, dir, "events").schema("ts").dataType) match {
      case scala.util.Success(ts) =>
        assert(Seq(TimestampType, TimestampNTZType).contains(ts),
          s"ts read as $ts without nanosAsLong")
      case scala.util.Failure(e) =>
        val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        assert(chain.exists(t => Option(t.getMessage).exists(_.contains("TIMESTAMP(NANOS"))), e)
    }
    s.conf.set(nanos, "true")
    assert(Tables.load(s, dir, "events").schema("ts").dataType == LongType)
  }

  test("four threads loading one table at once all return and agree") {
    val dir = tmp("graft_tables_race")
    (1L to 20L).map(i => (i, s"n$i")).toDF("id", "name")
      .write.parquet(s"$dir/t.parquet")
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val loads = (1 to 4).map(_ => pool.submit(new Callable[(String, Seq[Row])] {
        def call(): (String, Seq[Row]) = {
          go.await()
          val df = Tables.load(spark, dir, "t")
          (df.schema.json, rows(df))
        }
      }))
      go.countDown()
      val results = loads.map(_.get(120, TimeUnit.SECONDS))
      assert(results.distinct.size == 1, results.map(_._1).distinct.mkString("; "))
      assert(results.head._2.size == 20)
    } finally pool.shutdownNow()
  }

  // ------------------------------------------------------------ tooling

  test("src/main reads input tables only through sources/Tables.scala") {
    // a parquet read: `.read`, then any `.schema(…)`/`.option(…)`/
    // `.format(…)` links, then `.parquet(` or (with "parquet") `.load(`
    val read = """\.read((?:\s*\.\s*\w+\((?:[^()]|\([^()]*\))*\))*)\s*\.\s*(parquet|load)\(""".r
    // reads of the engine's own stores and intermediates, by file and by
    // the path they read; anything else is an input-table read
    val allowed: Map[String, Seq[String]] = Map(
      "IndexStore.scala" -> Seq("metaPath", "/payload", "/banded"),
      "Dedup.scala" -> Seq("/exact/keys"),
      "TrainPrepQueries.scala" -> Seq("/decisions"))
    def argument(src: String, from: Int): String = {
      var depth = 1; var i = from
      while (i < src.length && depth > 0) {
        if (src(i) == '(') depth += 1 else if (src(i) == ')') depth -= 1
        i += 1
      }
      src.substring(from, i - 1)
    }
    val root = Paths.get("src/main/scala/graft")
    val w = Files.walk(root)
    val files = try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    val offenders = for {
      f <- files if !f.endsWith(Paths.get("sources", "Tables.scala"))
      src = new String(Files.readAllBytes(f), "UTF-8")
      m <- read.findAllMatchIn(src)
      if m.group(2) == "parquet" || m.group(1).contains("\"parquet\"")
      arg = argument(src, m.end)
      if !allowed.getOrElse(f.getFileName.toString, Nil).exists(arg.contains)
    } yield s"${root.relativize(f)}:${src.take(m.start).count(_ == '\n') + 1} reads $arg"
    assert(Files.isDirectory(root) && files.nonEmpty)
    assert(offenders.isEmpty,
      s"read input tables through graft.sources.Tables: ${offenders.mkString("; ")}")
  }
}
