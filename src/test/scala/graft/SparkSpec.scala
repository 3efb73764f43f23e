package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM, lazy). It runs
  * on a fixed 4 workers whatever `SPARK_GRAFT_CPUS` says, so tests see
  * the same partitioning on every machine. */
object SparkSpec {
  lazy val spark: SparkSession = Harness.session(4, "spark.app.name" -> "graft-test")
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf
}
