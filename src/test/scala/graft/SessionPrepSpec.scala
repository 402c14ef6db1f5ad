package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

class SessionPrepSpec extends AnyFunSuite with SparkTestBase {

  test("a failing prep build rethrows its own cause and interrupts the others") {
    val started = new CountDownLatch(1)
    val interrupted = new CountDownLatch(1)
    val blocking: () => Any = () => {
      started.countDown()
      try new CountDownLatch(1).await(60, TimeUnit.SECONDS)
      catch { case _: InterruptedException => interrupted.countDown() }
    }
    val failing: () => Any = () => {
      started.await(60, TimeUnit.SECONDS)
      throw new IllegalStateException("boom")
    }
    val e = intercept[IllegalStateException](
      SparkEntry.runBuildsConcurrently(spark, Seq("blocks" -> blocking, "fails" -> failing)))
    assert(e.getMessage == "boom")
    assert(interrupted.await(10, TimeUnit.SECONDS), "the blocked build was not interrupted")
  }
}
