package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy). */
trait SparkTestBase { self: AnyFunSuite =>
  lazy val spark: SparkSession = GraftSession.builder(GraftSession.cpus)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      s"/tmp/graft_warehouse_${sys.props.getOrElse("user.name", "u")}")
    .getOrCreate()

  /** Number of Spark jobs `body` starts (the listener bus is drained
    * on both sides, so no earlier job leaks in and none is missed). */
  def sparkJobs(body: => Any): Int = {
    val sc = spark.sparkContext
    var n = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { n += 1 }
    }
    Bridge.waitListenerBus(spark)
    sc.addSparkListener(listener)
    try {
      body
      Bridge.waitListenerBus(spark)
    } finally sc.removeSparkListener(listener)
    listener.synchronized(n)
  }

  /** Ids of the RDDs `sc.getPersistentRDDs` gained across `body`: the
    * cuts and caches it left behind. */
  def newPersistentRDDs(body: => Any): Set[Int] = {
    def ids = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = ids
    body
    ids -- before
  }
}
