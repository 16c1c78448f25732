package graft.graph

import org.apache.spark.sql.{Column, Dataset, Observation, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

/** The engine's lineage-cut primitive: the eager `localCheckpoint`
  * every iterative graph loop (PageRank / ConnectedComponents / Bfs /
  * KCore), the corpus funnel and the ingest jobs materialize through.
  * Every round of an iterative DataFrame algorithm must cut lineage (or
  * the plan grows exponentially, SURVEY.md §7.3), and the storage level
  * of the checkpoint blocks is the algorithm's entire memory footprint
  * beyond the shuffle.
  *
  * [[cut]] / [[cutSized]] cut at a size-aware level. [[cutObserved]]
  * (and [[cutCounted]]) also return aggregates observed during the
  * cut's own materialization, so driver-side counts ride a job that
  * runs anyway; eager by construction, the values are there when it
  * returns (an `Observation` read before any action blocks forever).
  * [[release]] retires a cut's blocks: Spark 4.1's `Dataset.unpersist`
  * only drops CacheManager entries, so a checkpoint RDD's blocks stay
  * in `getPersistentRDDs` until the RDD object is garbage-collected.
  *
  * Level policy (round 11, closing the r10 "nothing adapts" defect —
  * the flat DISK_ONLY default cost the sf0.1 graph family ~18% for
  * snapshots that were KB-sized):
  *
  *  1. [[levelFor]] / [[cutSized]] (a caller-known row count: KCore's
  *     peel size, PageRank's node count, CC's label count) compare against
  *     [[MemRowsKey]] — small snapshots go MEMORY_AND_DISK,
  *     large go DISK_ONLY;
  *  2. [[level]] / [[cut]] (no count in hand) consult the optimizer's
  *     `stats.sizeInBytes` against [[MemBytesKey]] — free (no job),
  *     real for scan-rooted plans (the expensive FIRST snapshot of
  *     every algorithm, built straight off parquet), and
  *     `defaultSizeInBytes`-huge for plans rooted at prior
  *     checkpoints — which correctly lands on DISK_ONLY, the safe
  *     posture for unknown size.
  *
  * Why DISK_ONLY for anything big or unknown — measured matrix (q90
  * k-core, 30M symmetrized sf10 edges; SCALE_AUDIT "iterative snapshot
  * storage"):
  *
  *   - MEMORY_AND_DISK (deserialized): fastest when memory is ample
  *     (87.3 s at 64g) but OOMs an 8g driver on corpus-sized
  *     snapshots — row objects cost several× their serialized bytes.
  *   - MEMORY_AND_DISK_SER: REJECTED — it still OOMs at 8g, and faster:
  *     when a spilled block is read back, `BlockManager
  *     .maybeCacheDiskBytesInMemory` re-caches it as ONE contiguous
  *     partition-sized ByteBuffer, and 32 concurrent tasks × full
  *     partitions of edge bytes blow the heap before the storage
  *     accounting can refuse (observed: heap-space OOM inside
  *     `DiskBlockData.toChunkedByteBuffer`). Worst of both regimes —
  *     it also pays ser/deser at small scale.
  *   - DISK_ONLY: streams blocks from disk on every read (no
  *     re-cache-as-bytes path, no storage-memory competition with the
  *     shuffle); q90's sf10 probe completes in an 8g heap at 109.3 s —
  *     1.25× the 64g deserialized time for 8× less memory.
  *
  * The size thresholds are deliberately an order of magnitude below
  * where the 8g OOM lives: [[DefaultMemRows]] 4M rows ≈ 300 MB of row
  * objects (the sf10 failure was 30M), [[DefaultMemBytes]] sized to
  * match that row budget on compressed scan stats (see the constant's
  * own scaladoc). A wrong small-side guess costs eviction (the
  * unified memory manager drops storage blocks under shuffle
  * pressure — MEMORY_AND_DISK degrades, it does not OOM at these
  * sizes); a wrong big-side guess costs the measured ~18% small-scale
  * latency, never correctness.
  */
object Snapshots {
  val MemRowsKey = "spark.graft.graph.snapshotMemRows"
  val MemBytesKey = "spark.graft.graph.snapshotMemBytes"

  /** The unknown-size / big-size posture. */
  val DefaultLevel = "DISK_ONLY"
  val DefaultMemRows: Long = 4000000L
  /** Byte threshold consistent with the 4M-ROW budget, not with the
    * 8g-driver OOM point: for scan-rooted plans `stats.sizeInBytes`
    * is COMPRESSED parquet file bytes (~8 B per long-pair edge row),
    * so 32 MB ≈ 4M such rows — an order of magnitude below the 30M-row
    * level the r11 adjudication matrix measured OOMing a deserialized
    * MEMORY_AND_DISK cache. The earlier 256 MB default was calibrated
    * to in-memory row estimates and silently admitted ~30-50M rows of
    * well-compressed scan, exactly the OOM regime. Derived plans carry
    * fatter per-row estimates and simply land in the safe DISK_ONLY
    * posture a little earlier (measured family cost of that posture:
    * ≤ +0.8 s at sf0.1, vs an 8g driver OOM the other way). */
  val DefaultMemBytes: Long = 32L << 20

  /** The level [[cut]] will use: the optimizer's size estimate
    * against [[MemBytesKey]]. */
  def level(ds: Dataset[_]): StorageLevel = {
    val memBytes = ds.sparkSession.conf
      .get(MemBytesKey, DefaultMemBytes.toString).toLong
    val est = ds.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= memBytes) StorageLevel.MEMORY_AND_DISK
    else StorageLevel.fromString(DefaultLevel)
  }

  /** The level [[cutSized]] will use: the caller's known row count
    * against [[MemRowsKey]]. */
  def levelFor(ds: Dataset[_], knownRows: Long): StorageLevel = {
    val memRows = ds.sparkSession.conf
      .get(MemRowsKey, DefaultMemRows.toString).toLong
    if (knownRows >= 0 && knownRows <= memRows)
      StorageLevel.MEMORY_AND_DISK
    else StorageLevel.fromString(DefaultLevel)
  }

  /** Eager lineage cut at the stats-estimated storage level — drop-in
    * for `localCheckpoint(true)` at snapshot sites with no row count
    * in hand. */
  def cut[T](ds: Dataset[T]): Dataset[T] =
    ds.localCheckpoint(true, level(ds))

  /** Eager lineage cut sized by a row count the caller already
    * computed (an exact count of this frame or a monotone upper bound
    * from the previous round — peeling/convergence only shrinks). */
  def cutSized[T](ds: Dataset[T], knownRows: Long): Dataset[T] =
    ds.localCheckpoint(true, levelFor(ds, knownRows))

  /** An eager cut and the aggregates observed while it materialized,
    * by alias (a null value = an aggregate over no rows). */
  final case class Observed[T](ds: Dataset[T], values: Map[String, Any]) {
    def long(name: String): Long = values(name).asInstanceOf[Long]
    /** A `collect_set` / `collect_list` of longs, by alias. */
    def longs(name: String): Seq[Long] =
      values(name).asInstanceOf[scala.collection.Seq[Long]].toSeq
  }

  /** Eager lineage cut at `level` with `aggs` (aliased aggregate
    * columns) computed in the same pass as a CollectMetrics node — one
    * job, where a cut then a separate aggregate runs two or more. */
  def cutObserved[T](ds: Dataset[T], level: StorageLevel, agg: Column,
                     aggs: Column*): Observed[T] = {
    val o = Observation()
    val cut = ds.observe(o, agg, aggs: _*).localCheckpoint(true, level)
    Observed(cut, o.get)
  }

  /** [[cutObserved]] with the row count alone: (cut, rows). */
  def cutCounted[T](ds: Dataset[T], level: StorageLevel): (Dataset[T], Long) = {
    val c = cutObserved(ds, level, count(lit(1)).as("n"))
    (c.ds, c.long("n"))
  }

  /** Materializes a lazy cut (`localCheckpoint(false, level)`) in one
    * job, as the eager form does. The eager form persists the cut's RDD
    * before that job runs and leaves it persisted when the job throws,
    * so a caller that must free a failed cut's blocks takes the cut
    * lazily and calls this inside the `try` whose `finally`
    * [[release]]s it. */
  def materialize(cut: Dataset[_]): Unit =
    cut.toDF().foreachPartition((_: Iterator[Row]) => ())

  /** Retires the checkpoint blocks under a cut frame (one returned by
    * [[cut]], [[cutSized]], [[cutObserved]] or `localCheckpoint`; a
    * derived frame is refused). Call it only once everything that
    * reads the cut is materialized: a lost local-checkpoint block fails
    * the next read. */
  def release(df: Dataset[_]): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case p => throw new IllegalArgumentException(
      s"release expects a cut frame, got a ${p.nodeName} plan")
  }

  /** Max known row count at which the iterative graph family broadcasts
    * its node-sized per-round frames (KCore survivors, CC labels, BFS
    * frontiers) into the iteration joins — the edge frame is then never
    * shuffled inside a round (guide §3.1) — and at which PageRank holds
    * its rank vector on the driver and broadcasts it every round.
    * 1M rows of (id, score) builds to tens of MB, comfortably inside
    * executor memory and far under the 8 GB broadcast cap; past the
    * bound the loops keep plain shuffle joins — the only correct shape
    * when node frames are cluster-sized. */
  private[graph] val BcastRowsMax: Long = 1000000L

  /** `broadcast(df)` when the caller-known row bound is within
    * [[BcastRowsMax]], else `df` unchanged. knownRows < 0 = unknown =
    * never broadcast. */
  def broadcastIfSmall(df: org.apache.spark.sql.DataFrame,
                       knownRows: Long): org.apache.spark.sql.DataFrame = {
    if (knownRows >= 0 && knownRows <= BcastRowsMax)
      org.apache.spark.sql.functions.broadcast(df)
    else df
  }
}
