package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import graft.jobs.Concurrently

/** The one fresh-thread primitive behind the concurrent write phase of
  * VolTransferJob and the two legs of a RollupJob tick. */
class ConcurrentlySpec extends AnyFunSuite {

  test("an interrupted caller waits for every task, then rethrows") {
    val started = new CountDownLatch(2)
    val release = new CountDownLatch(1)
    val ended = new AtomicInteger()
    // a task that ignores interrupts until it is released
    def stubborn(): Unit = {
      started.countDown()
      var done = false
      while (!done) try { release.await(); done = true }
      catch { case _: InterruptedException => () }
      ended.incrementAndGet()
    }
    @volatile var thrown: Throwable = null
    val caller = new Thread(() =>
      try Concurrently("a" -> (() => stubborn()), "b" -> (() => stubborn()))
      catch { case t: Throwable => thrown = t })
    caller.start()
    assert(started.await(10, TimeUnit.SECONDS))
    caller.interrupt()
    caller.join(300)
    assert(caller.isAlive, "returned before its tasks ended")
    release.countDown()
    caller.join(10000)
    assert(!caller.isAlive && ended.get == 2)
    assert(thrown.isInstanceOf[InterruptedException], thrown)
  }

  test("the first failure is rethrown once every task has ended") {
    val release = new CountDownLatch(1)
    val ended = new AtomicInteger()
    val e = intercept[IllegalStateException](Concurrently(
      "fails" -> (() => { release.countDown(); throw new IllegalStateException("a") }),
      "slow" -> (() => { release.await(); Thread.sleep(200); ended.incrementAndGet() }),
      "also" -> (() => {
        release.await(); Thread.sleep(100); throw new IllegalArgumentException("b")
      })))
    assert(e.getMessage == "a" && ended.get == 1)
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("b"))
  }
}
