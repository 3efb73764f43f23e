package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The run harness: the job recorder reports what a job ran, and a
  * source guard keeps every local session on [[Harness.session]]. */
class HarnessSpec extends SparkSpec {

  test("jobsOf records each job's description, call site, stages and tasks, and only the body's jobs") {
    spark.range(10).count() // a job before the body is not recorded
    val (n, jobs) = Harness.jobsOf(spark) {
      Harness.phase(spark, "harness-spec: count")(
        spark.sparkContext.parallelize(1 to 100, 3).map(_ * 2).count())
    }
    assert(n == 100)
    assert(jobs.size == 1, jobs)
    val j = jobs.head
    assert(j.description.contains("harness-spec: count"))
    assert(j.callSite.contains("HarnessSpec"), j.callSite)
    assert(j.stages == 1 && j.tasks == 3 && j.wallMs >= 0 && j.taskTimeMs >= 0, j)
  }

  test("src/main builds sessions only in Harness.scala; the test session keeps UTC and nanosAsLong") {
    // StreamingJob.main is cluster-submitted: it sets no master, so it
    // keeps a builder of its own
    val allowed = Set(Paths.get("Harness.scala"), Paths.get("pipelines", "StreamingJob.scala"))
    val root = Paths.get("src/main/scala/graft")
    val w = Files.walk(root)
    val files = try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    val offenders = for {
      f <- files if !allowed(root.relativize(f))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("SparkSession.builder")
    } yield s"${root.relativize(f)}:${i + 1}"
    assert(files.exists(_.endsWith("Harness.scala")))
    assert(offenders.isEmpty, s"build sessions with graft.Harness.session: ${offenders.mkString("; ")}")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}
