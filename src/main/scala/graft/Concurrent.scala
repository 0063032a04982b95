package graft

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, LinkedBlockingQueue, ThreadFactory, ThreadPoolExecutor, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.duration.FiniteDuration

/** Runs independent driver-side legs at once (actions are only sequential
  * because the driver calls them sequentially; each multi-stage job's tail
  * leaves cores idle, so overlapping jobs backfills the box).
  * Dataset construction from worker threads is safe when the calling thread
  * is not mid-analysis.
  */
object Concurrent {
  private val threadIds = new AtomicInteger
  private val daemons: ThreadFactory = r => {
    val t = new Thread(r, s"graft-concurrent-${threadIds.incrementAndGet()}")
    t.setDaemon(true)
    t
  }

  /** Every leg's result, in input order, on at most
    * `min(legs, availableProcessors)` daemon threads. The first leg to fail
    * is rethrown as its original exception; legs still unfinished after
    * `timeout` raise a `TimeoutException` naming it. Either way the pool is
    * interrupted and no leg is waited on further, so a wedged leg can
    * neither hang the caller nor hold the JVM open.
    */
  def concurrently[A](timeout: FiniteDuration)(legs: (() => A)*): Seq[A] = {
    val n = math.min(legs.size, Runtime.getRuntime.availableProcessors()).max(1)
    val pool = new ThreadPoolExecutor(n, n, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable], daemons)
    try {
      val done = new ExecutorCompletionService[A](pool)
      val futures = legs.map(leg => done.submit(() => leg()))
      val deadline = System.nanoTime() + timeout.toNanos
      for (left <- legs.size to 1 by -1) {
        val f = done.poll(deadline - System.nanoTime(), TimeUnit.NANOSECONDS)
        if (f == null) throw new TimeoutException(
          s"concurrently: $left of ${legs.size} legs unfinished after $timeout")
        try f.get() catch { case e: ExecutionException => throw e.getCause }
      }
      futures.map(_.get())
    } finally {
      pool.shutdownNow()
      // interrupted legs unwind within this grace; one that ignores
      // interrupts is left to its daemon thread
      pool.awaitTermination(1, TimeUnit.SECONDS)
    }
  }
}
