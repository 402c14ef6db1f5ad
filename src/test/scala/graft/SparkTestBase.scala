package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one per JVM; sbt forks a single test JVM). */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.get("local[4]", shufflePartitions = 4)
}

trait SparkTestBase { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkTestBase.spark

  /** `f`'s result and the Spark jobs it ran, listener-counted. */
  protected def withJobs[T](f: => T): (T, Int) = {
    val jobCounter = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobCounter.incrementAndGet()
    }
    org.apache.spark.sql.graftx.Bridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = f
      org.apache.spark.sql.graftx.Bridge.drainListenerBus(spark.sparkContext)
      (out, jobCounter.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
