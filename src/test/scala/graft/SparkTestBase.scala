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

  /** Local property `key` as every Spark job `body` starts sees it,
    * with `key` set to `value` on the calling thread around `body`. */
  def jobLocalProperty(key: String, value: String)(
      body: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(j.properties.getProperty(key)))
    }
    Bridge.waitListenerBus(spark)
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, value)
    try {
      body
      Bridge.waitListenerBus(spark)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    seen.toArray(Array.empty[String]).toSeq
  }

  /** Ids of the RDDs `body` left behind: those `sc.getPersistentRDDs`
    * gained across it, and those whose blocks the block manager gained.
    * Both forget an unreleased cut once the garbage collector takes it
    * (the map holds its RDDs weakly, and the ContextCleaner then drops
    * the blocks), so every RDD persistent at a job start inside `body`
    * is held until the check: a leak is counted however soon the
    * collector runs. */
  def newPersistentRDDs(body: => Any): Set[Int] = {
    val sc = spark.sparkContext
    def ids = sc.getPersistentRDDs.keySet.toSet ++ Bridge.rddsWithBlocks(spark)
    val held = new java.util.concurrent.ConcurrentHashMap[Int, AnyRef]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        sc.getPersistentRDDs.foreach { case (id, rdd) => held.put(id, rdd) }
    }
    Bridge.waitListenerBus(spark)
    val before = ids
    sc.addSparkListener(listener)
    try {
      body
      Bridge.waitListenerBus(spark)
      ids -- before
    } finally {
      sc.removeSparkListener(listener)
      held.clear()
    }
  }
}
