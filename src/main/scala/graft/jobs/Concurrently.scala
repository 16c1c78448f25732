package graft.jobs

import java.util.concurrent.ConcurrentLinkedQueue

/** Independent legs of one job run at once: most of a small Spark job
  * is scheduling and commit time, which concurrent legs overlap instead
  * of queueing. VolTransferJob's three sink writes and RollupJob's two
  * rollup legs run through here. */
private[graft] object Concurrently {

  /** Runs each named task on a fresh thread (`graft-<name>`) and
    * returns once all have ended — also when the calling thread is
    * interrupted (a query stop), which is then passed on to the tasks
    * and rethrown after them. A fresh thread inherits the caller's Spark
    * local properties (job group, streaming batch id, SQL execution id),
    * which a pooled one would not, so every job stays attributed to its
    * caller. The first failure is rethrown, the others added as
    * suppressed. */
  def apply(tasks: (String, () => Unit)*): Unit = {
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val threads = tasks.map { case (name, task) =>
      new Thread(() => try task() catch {
        case t: Throwable => failures.add(t)
      }, s"graft-$name")
    }
    threads.foreach(_.start())
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive) try t.join() catch {
        case _: InterruptedException =>
          interrupted = true
          threads.foreach(_.interrupt())
      }
    }
    if (interrupted)
      throw new InterruptedException("interrupted while its tasks ran")
    val it = failures.iterator()
    if (it.hasNext) {
      val first = it.next()
      it.forEachRemaining(t => first.addSuppressed(t))
      throw first
    }
  }
}
