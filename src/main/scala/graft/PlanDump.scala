package graft

/** Write `.explain("formatted")` output for registry queries to files —
  * the plans/r21 artifact generator. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_PLAN_TAG=before \
  *     SPARK_GRAFT_PLAN_DIR=plans/r21 \
  *     sbt 'runMain graft.PlanDump q183_store_probe_neardup,...'
  *
  * Each query is materialized once through the noop sink first (so AQE
  * settles and any store-building side effects complete), then the
  * FORMATTED static plan of the returned frame is written to
  * `$dir/<name>_<tag>.txt`. For the multi-job store/maintenance
  * sequences the returned frame is the final probe/decision plan — the
  * store bootstrap plans execute during construction and are attested
  * by ProfileJobs' job-level decomposition instead.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "before")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r21")
    val spark = Harness.session(Harness.envCpus(32))
    val names = args.headOption.map(_.split(",").toSet).getOrElse(Set.empty)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    SparkEntry.registry.filter(q => names.contains(q.name)).foreach { q =>
      val df = q.spark(spark, sfDir)
      Harness.materialize(df)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${q.name}_$tag.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${q.name}_$tag.txt")
    }
    spark.stop()
  }
}
