package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared local session for specs (one JVM-wide session, tests run sequentially). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"
  def sf001 = "/root/testdata/sf0.01"

  /** `body`'s result and the descriptions ("null" when unset) of the Spark
    * jobs it started, in order. A marker job before and after `body` flushes
    * the in-order listener queue up to that point.
    */
  def jobsRunBy[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.job.description")).orNull))
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(name) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(name), s"listener never saw $name")
    }
    sc.addSparkListener(listener)
    try {
      marker("jobsRunBy:before")
      seen.clear()
      val result = body
      marker("jobsRunBy:after")
      (result, seen.asScala.toSeq.filterNot(_ == "jobsRunBy:after"))
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      // local[threads, maxFailures]: allow ONE task retry so the chaos suite
      // can kill a task mid-backup and observe Spark's recovery (ChaosSpec)
      .master("local[4,2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // testdata events.ts is parquet TIMESTAMP(NANOS): read as Long nanos
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
