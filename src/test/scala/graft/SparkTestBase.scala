package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites (one per JVM; sbt forks a single test JVM). */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.get("local[4]", shufflePartitions = 4)
}

trait SparkTestBase extends BeforeAndAfterAll { self: AnyFunSuite =>
  lazy val spark: SparkSession = SparkTestBase.spark

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A fresh directory under the JVM's temp dir, deleted with everything in
    * it when the suite ends.
    */
  protected def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.synchronized(tempDirs += d)
    d
  }

  override protected def afterAll(): Unit =
    try tempDirs.synchronized {
      for (d <- tempDirs if Files.exists(d)) {
        val walk = Files.walk(d)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
        finally walk.close()
      }
      tempDirs.clear()
    } finally super.afterAll()

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

  /** `f` under `spark.graft.regime=regime`, the previous value restored
    * afterwards. The forked test JVM runs its suites one at a time, so a
    * session conf scoped this way reaches only `f`.
    */
  protected def withRegime[T](regime: String)(f: => T): T = {
    val saved = spark.conf.getOption(Regime.Key)
    spark.conf.set(Regime.Key, regime)
    try f
    finally saved match {
      case Some(v) => spark.conf.set(Regime.Key, v)
      case None => spark.conf.unset(Regime.Key)
    }
  }
}
