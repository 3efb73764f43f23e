package graft.perfbench

import scala.collection.mutable

import graft.queries.{CoreQueries, QueryDef, RelationalQueries}
import graft.sources.Tables

/** `query_mix`: one client in a closed loop over the paper's analytics,
  * serving and monitoring queries. Each round runs every query once, in
  * an order drawn from the seed; the run ends on the first round
  * boundary after `seconds`. An operation is one query: build the
  * DataFrame, then materialize it through the `noop` sink.
  *
  * Set-up runs every query once and writes its result for the DuckDB
  * oracle check, which also warms the JIT, codegen and parquet readers,
  * then runs one untimed round. It runs once: a repetition costs more
  * than the timed phase.
  */
object QueryMix {
  /** The analytics, serving and monitoring queries whose results are
    * stable bit for bit against their oracles on every seed: q01
    * (quality score), q10 (pagination), q16 and q17 (star joins with
    * exact decimal money sums) and q36 (alert emission). The other
    * queries of CoreQueries and RelationalQueries round a floating
    * `avg`/`stddev` to 6 decimals, and the two engines sum in different
    * orders, so on some seeds a value lands on the other side of a
    * rounding boundary and the exact oracle check fails; they are left
    * out until that is mended. */
  val mix: Set[String] = Set("q01", "q10", "q16", "q17", "q36")
  val queries: Seq[QueryDef] = (CoreQueries.all ++ RelationalQueries.all)
    .filter(q => mix(q.name.take(3)))
  val tablesRead: Seq[String] =
    Seq("events", "customer", "lineitem", "orders", "supplier", "nation",
      "region")

  def run(ctx: Ctx): Unit = {
    import ctx._
    def load(t: String) = trace.span("sources", s"load:$t") {
      if (t == "events") Tables.events(spark, tables).schema
      else Tables.load(spark, tables, t).schema
    }

    // set-up: load every table the mix reads, then run each query once,
    // writing its result for the DuckDB oracle check; this pass also
    // warms the JIT, codegen and parquet readers for the timed phase.
    // The queries run side by side: a cold query is mostly compilation,
    // which spreads over the cores.
    val reps = Seq {
      val t0 = System.nanoTime()
      tablesRead.foreach(load)
      Main.sideBySide(queries.map(q => () => q.spark(spark, tables)
        .coalesce(1).write.mode("overwrite").parquet(s"$runDir/out/${q.name}")): _*)
      // one untimed round the way the timed phase runs it: the first
      // single-client round after the pass still pays for JIT compiles
      queries.foreach(q => materialize(q.spark(spark, tables)))
      Main.secondsSince(t0)
    }
    result("setup_reps_s") = reps
    result("setup_s") = result("session_s").asInstanceOf[Double] + Main.median(reps)

    Main.note("set-up done")
    val rnd = new scala.util.Random(seed)
    val lat = mutable.ArrayBuffer.empty[Double]
    val names = mutable.ArrayBuffer.empty[String]
    val start = System.nanoTime()
    var rounds = 0
    while (Main.secondsSince(start) < seconds) {
      rnd.shuffle(queries).foreach { q =>
        val t0 = System.nanoTime()
        trace.span("queries", q.name) {
          val df = trace.span("queries", s"build:${q.name}")(q.spark(spark, tables))
          trace.span("queries", s"exec:${q.name}")(materialize(df))
        }
        lat += (System.nanoTime() - t0) / 1e6
        names += q.name
      }
      rounds += 1
    }
    val elapsed = Main.secondsSince(start)
    result("heap_live_mb") = liveHeapMb()
    result("rounds") = rounds
    result("ops") = names
    result("latency_ms") = lat
    result("latency_p50_ms") = Main.median(lat.toSeq)
    result("ops_per_s") = lat.size / elapsed

    Main.note("timed phase done")
    result("oracle") = queries.map(q => q.name -> q.oracle.getOrElse("")).toMap
  }
}
