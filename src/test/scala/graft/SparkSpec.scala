package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazily). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Number of Spark jobs started while `body` runs. The listener bus
    * is async and private; settle by polling until the count stops
    * moving (job STARTS all precede body returning, so this only waits
    * out bus delivery, never a straggling job).
    */
  def countJobs(body: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    def settled(): Int = {
      var prev = -1; var cur = jobs.get()
      while (cur != prev) { Thread.sleep(200); prev = cur; cur = jobs.get() }
      cur
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; settled() }
    finally spark.sparkContext.removeSparkListener(listener)
  }
}
