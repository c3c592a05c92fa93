package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftSparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"
  lazy val sf001 = "/root/testdata/sf0.01"

  /** Jobs started by `body` on this thread, counted by a listener. */
  def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"counted-jobs-${System.nanoTime}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && group == e.properties.getProperty("spark.jobGroup.id"))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try { body; GraftSparkInternals.drainListenerBus(sc); n.get }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
