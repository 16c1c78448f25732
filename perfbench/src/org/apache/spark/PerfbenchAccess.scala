package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until the
  * asynchronous listener bus has delivered every posted event, so the
  * counts read after a run are complete. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
