package graft

import org.scalatest.funsuite.AnyFunSuite
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
}
