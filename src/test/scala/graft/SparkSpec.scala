package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM, lazy). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf

  /** Run `body` and return the `spark.job.description` of every Spark job
    * it starts on this thread or on threads it starts (None where unset).
    * The jobs carry a fresh tag; a tagged sentinel job after `body` marks
    * the end of their events on the listener bus. */
  def jobsStartedBy[T](body: => T): (T, Seq[Option[String]]) = {
    val sc = spark.sparkContext
    val tag = s"graft-jobs-${UUID.randomUUID()}"
    val started = new ConcurrentLinkedQueue[Option[String]]()
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.flatMap(p => Option(p.getProperty("spark.job.tags"))).exists(_.contains(tag))) {
          val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
          if (desc.contains(s"$tag-sentinel")) sentinelSeen.countDown()
          else started.add(desc)
        }
      }
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val out = body
      sc.setJobDescription(s"$tag-sentinel")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(sentinelSeen.await(30, TimeUnit.SECONDS), "sentinel job never seen")
      (out, started.asScala.toSeq)
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }
}
