package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.{KCore, Snapshots}

/** Pins the iterative-family snapshot storage policy (SCALE_AUDIT
  * "iterative snapshot storage"): size-aware since round 11 — small
  * snapshots (known row count under the threshold, or a small
  * optimizer size estimate) ride MEMORY_AND_DISK; big or unknown ones
  * stay DISK_ONLY, the level measured to hold sf10 inside an 8g heap.
  * Results must not depend on the level (it is a storage policy, not a
  * semantic). */
class SnapshotsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private lazy val edges = Seq(
    (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
    (4L, 5L), (5L, 6L)
  ).toDF("src", "dst")

  test("small stats estimate -> memory; over the bytes threshold -> " +
    "DISK_ONLY (the unknown-size posture)") {
    // a KB-sized local frame estimates tiny -> memory level
    assert(Snapshots.level(edges) == StorageLevel.MEMORY_AND_DISK)
    // force the threshold to zero: everything is "big"
    spark.conf.set(Snapshots.MemBytesKey, "0")
    try assert(Snapshots.level(edges) == StorageLevel.DISK_ONLY)
    finally spark.conf.unset(Snapshots.MemBytesKey)
  }

  test("known row count picks the level against the rows threshold") {
    assert(Snapshots.levelFor(edges, 8L) == StorageLevel.MEMORY_AND_DISK)
    assert(Snapshots.levelFor(edges, Snapshots.DefaultMemRows + 1)
      == StorageLevel.DISK_ONLY)
    // negative = "don't know" -> safe posture
    assert(Snapshots.levelFor(edges, -1L) == StorageLevel.DISK_ONLY)
  }

  test("session conf overrides both paths, and results are " +
    "level-independent") {
    // zero MemRows/MemBytes thresholds force DISK_ONLY on the known-count
    // and the stats-estimate path alike
    val base = KCore.peel(edges, k = 3, rounds = 10)
      .as[(Long, Long)].collect().toMap
    spark.conf.set(Snapshots.MemRowsKey, "0")
    spark.conf.set(Snapshots.MemBytesKey, "0")
    try {
      assert(Snapshots.level(edges) == StorageLevel.DISK_ONLY)
      assert(Snapshots.levelFor(edges, 1L) == StorageLevel.DISK_ONLY)
      val onDisk = KCore.peel(edges, k = 3, rounds = 10)
        .as[(Long, Long)].collect().toMap
      assert(onDisk == base)
      assert(base == Map(1L -> 3, 2L -> 3, 3L -> 3, 4L -> 3))
    } finally {
      spark.conf.unset(Snapshots.MemRowsKey)
      spark.conf.unset(Snapshots.MemBytesKey)
    }
  }

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def aggs = Seq(count(lit(1)).as("n"), sum(col("src")).as("s"),
    count(when(col("dst") > 4, 1)).as("far"))

  test("cutObserved: the observed values equal a separate aggregate, " +
    "at either level; an empty frame observes count 0 and sum null") {
    val expected = edges.agg(aggs.head, aggs.tail: _*).head()
    for (level <- Seq(StorageLevel.MEMORY_AND_DISK, StorageLevel.DISK_ONLY)) {
      val before = persistentIds
      val c = Snapshots.cutObserved(edges, level, aggs.head, aggs.tail: _*)
      assert(c.long("n") == expected.getLong(0))
      assert(c.long("s") == expected.getLong(1))
      assert(c.long("far") == expected.getLong(2))
      // the cut is the frame itself, materialized at `level`
      val added = spark.sparkContext.getPersistentRDDs
        .collect { case (id, r) if !before(id) => r.getStorageLevel }
      assert(added.toSeq == Seq(level))
      assert(c.ds.collect().toSet == edges.collect().toSet)
      Snapshots.release(c.ds)
    }
    val empty = Snapshots.cutObserved(edges.filter(col("src") < 0),
      StorageLevel.MEMORY_AND_DISK, aggs.head, aggs.tail: _*)
    assert(empty.long("n") == 0L)
    assert(empty.values("s") == null)
    assert(empty.ds.isEmpty)
    Snapshots.release(empty.ds)
  }

  test("release frees the cut's RDD; Dataset.unpersist does not") {
    val before = persistentIds
    val c: DataFrame = Snapshots.cut(edges)
    val added = persistentIds -- before
    assert(added.size == 1, s"one checkpoint RDD per cut, got $added")
    // Spark 4.1: unpersist only drops CacheManager entries, and a
    // checkpoint is not one — the blocks stay
    c.unpersist()
    assert(added.subsetOf(persistentIds))
    Snapshots.release(c)
    assert((added & persistentIds).isEmpty)
    // a frame derived from a cut is not a cut
    val d = Snapshots.cut(edges)
    intercept[IllegalArgumentException](Snapshots.release(d.select("src")))
    Snapshots.release(d)
  }

  test("KCore.peel over several peel rounds keeps only the live final " +
    "edge cut") {
    // K4 on {1,2,3,4} with the tail 4-5-6-7-8: at k = 2 the tail peels
    // one node per round (8, 7, 6, 5), then a fifth round finds the
    // fixpoint
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L)).toDF("src", "dst")
    val before = persistentIds
    val core = KCore.peel(g, k = 2, rounds = 10)
    // each retired round's cut is released, not left to the GC
    val added = persistentIds -- before
    assert(added.size <= 1, s"${added.size} checkpoint RDDs left behind")
    assert(core.as[(Long, Long)].collect().toMap ==
      Map(1L -> 3, 2L -> 3, 3L -> 3, 4L -> 3))
  }
}
