package graft

/** Job-level wall-clock attribution for one registry query: runs the
  * query through the noop sink and records every Spark job's wall time,
  * label, stage count and task count ([[Harness.jobsOf]]) — so a
  * multi-job sequence query (the store/maintenance family, where one
  * "query" is bootstrap + probe + append + probe) can be decomposed
  * into the jobs its seconds actually live in, instead of guessed at
  * from the total. A job is labelled by its `spark.job.description`
  * (the engine names its store and curation phases), else by its call
  * site.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt 'runMain graft.ProfileJobs q183_store_probe_neardup'
  *
  * Prints one line per job (ordered by submission) plus a summary:
  * total wall, sum-of-job wall, and the gap (driver-side work between
  * jobs — planning, file listing, commit protocol).
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.envCpus(32))
    val names = args.headOption.map(_.split(",").toSet)
      .getOrElse(Set("q183_store_probe_neardup"))

    // `curation_job` profiles the composed CurationJob.run through its
    // real parquet writes (the bench's non-registry entry), same
    // warmup discipline as a registry query
    def jobBody(sf: String): Unit = Harness.withTempDir("graft_profile_job")(out =>
      graft.pipelines.CurationJob.run(spark, sf, out.toString))
    val selected: Seq[(String, String => Unit)] =
      SparkEntry.registry.filter(q => names.contains(q.name))
        .map(q => q.name -> ((sf: String) => Harness.materialize(q.spark(spark, sf)))) ++
      (if (names.contains("curation_job"))
        Seq("curation_job" -> ((sf: String) => jobBody(sf)))
      else Nil)
    selected.foreach { case (name, run) =>
      // untimed warmup at the smallest SF (codegen/JIT), then a warm
      // full-size pass so page cache and AQE state match Bench's min-of-N
      val tw0 = System.nanoTime()
      try run("/root/testdata/sf0.001")
      catch { case _: Throwable => () }
      val tw1 = System.nanoTime()
      run(sfDir)
      val tw2 = System.nanoTime()
      println(f"[profile] $name warmup ${(tw1 - tw0) / 1e9}%.2f s, " +
        f"warm full-size ${(tw2 - tw1) / 1e9}%.2f s")
      System.gc()
      val (wall, jobs) = Harness.jobsOf(spark) {
        val t0 = System.nanoTime()
        run(sfDir)
        (System.nanoTime() - t0) / 1e9
      }
      println(s"========== $name: wall ${f"$wall%.2f"} s ==========")
      val sorted = jobs.sortBy(_.startMs)
      sorted.foreach { j =>
        println(f"  job ${j.id}%3d  ${j.wallMs}%6d ms  stages=${j.stages}%2d " +
          f"tasks=${j.tasks}%4d  taskTime=${j.taskTimeMs}%6d ms  " +
          j.description.getOrElse(j.callSite))
      }
      val jobSum = sorted.map(_.wallMs.max(0)).sum / 1e3
      // gap = wall minus job wall minus overlaps; approximate with
      // union of job intervals to avoid double-counting concurrency
      val intervals = sorted.map(j => (j.startMs, j.startMs + j.wallMs.max(0)))
      var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      intervals.foreach { case (s, e) =>
        if (s > curE) { covered += (curE - curS).max(0); curS = s; curE = e }
        else curE = curE.max(e)
      }
      covered += (curE - curS).max(0)
      println(f"  jobs=${sorted.size}  sum-of-jobs $jobSum%.2f s  " +
        f"covered ${covered / 1e3}%.2f s  driver-gap ${wall - covered / 1e3}%.2f s")
    }
    spark.stop()
  }
}
