package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** `body`'s value and the Spark jobs it started. The listener bus is
    * drained before and after, so no earlier job is counted and no job of
    * `body` is missed. */
  def jobsOf[T](body: => T): (T, Int) = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    assert(PlanAudit.drainListenerBus(spark, () => 0L))
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      assert(PlanAudit.drainListenerBus(spark, () => n.get.toLong))
      (out, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
