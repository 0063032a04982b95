package graft

import java.util.concurrent.{ConcurrentLinkedQueue, TimeoutException}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** `Concurrent.concurrently`: input-order results on a bounded daemon pool,
  * the first failure rethrown as itself, a bounded wait, and no helper thread
  * left running after a failed or timed-out call.
  */
class ConcurrentSpec extends AnyFunSuite {

  /** Runs `legs` through the helper, recording each leg's thread. */
  private def tracked[A](timeout: FiniteDuration)(legs: (() => A)*) = {
    val threads = new ConcurrentLinkedQueue[Thread]
    val result = scala.util.Try(Concurrent.concurrently(timeout)(
      legs.map(leg => () => { threads.add(Thread.currentThread()); leg() }): _*))
    (result, threads.asScala.toSeq)
  }

  private def assertNoneLeft(threads: Seq[Thread]): Unit = {
    assert(threads.nonEmpty)
    threads.foreach { t =>
      assert(t.getName.startsWith("graft-concurrent-") && t.isDaemon, t.getName)
      t.join(5000)
      assert(!t.isAlive, s"${t.getName} still running")
    }
  }

  test("results come back in input order, not completion order") {
    val (r, threads) = tracked(30.seconds)(
      (0 until 6).map(i => () => { Thread.sleep((6 - i) * 40L); i * 10 }): _*)
    assert(r.get === Seq(0, 10, 20, 30, 40, 50))
    assert(threads.distinct.size <= Runtime.getRuntime.availableProcessors())
    assert(threads.forall(t => t.getName.startsWith("graft-concurrent-") && t.isDaemon))
  }

  test("the first failure is rethrown as its original type; the slow leg is not awaited") {
    val t0 = System.nanoTime()
    val (r, threads) = tracked(1.minute)(
      () => { Thread.sleep(60000); 1 },
      () => throw new IllegalStateException("leg failed"))
    assert((System.nanoTime() - t0) / 1e9 < 30, "waited on the slow leg")
    val e = intercept[IllegalStateException](r.get)
    assert(e.getMessage === "leg failed")
    assertNoneLeft(threads)
  }

  test("a leg past the timeout raises an error naming the timeout") {
    val (r, threads) = tracked(200.millis)(
      () => 1,
      () => { Thread.sleep(60000); 2 })
    val e = intercept[TimeoutException](r.get)
    assert(e.getMessage.contains("200 milliseconds"), e.getMessage)
    assertNoneLeft(threads)
  }
}
