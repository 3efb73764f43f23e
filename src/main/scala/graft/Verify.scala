package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session(Harness.envCpus(4))
    new java.io.File(outDir).mkdirs()
    // Dev-loop subset filter (comma-separated name prefixes); the driver
    // never sets it, so its runs always dump the full registry.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Failures must be LOUD: a thrown query writes an `_ERROR` marker file
    // inside its output dir (instead of parquet), so the driver's compare
    // sees a malformed/empty result and records a non-null err for that
    // entry rather than silently omitting it. A schema drift should cost
    // one red report, not an invisible hole in the correctness file.
    var failed = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        val d = new java.io.File(s"$outDir/$name")
        d.mkdirs()
        // leave only the marker so a stale prior success can't mask this
        Option(d.listFiles()).foreach(_.foreach(f => if (f.isFile) f.delete()))
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR"),
          s"$name: ${e.getClass.getName}: ${e.getMessage}\n")
      }
    }
    if (failed.nonEmpty)
      System.err.println(
        s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} FAILED: " +
          failed.reverse.mkString(", "))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
