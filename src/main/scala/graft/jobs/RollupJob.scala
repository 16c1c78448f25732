package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import graft.io.Fs
import graft.ops.{Transfers, Volume}
import graft.graph.{PageRank, Snapshots}

/** Batch rollup chain (SURVEY.md §3.3) — the Airflow DAGs as one job:
  * vol → vol_by_block / vol_all_time (upserted on their keys), plus
  * PageRank over the transfer edges → address_pagerank.
  *
  * The Airflow layer was scheduling, not semantics
  * (/root/reference/airflow/archive/dags/etl_vol_dag.py,
  * etl_pagerank_dag.py); invoke this per cadence tick.
  *
  * Scale design: every rollup table is stored PARTITIONED by a bucket
  * column derived from its key (`pbucket` — height range for
  * vol_by_block, key hash for vol_all_time / address_pagerank), and a
  * tick touches only the partitions its updates land in: it reads those
  * partitions back (partition-pruned scan), merges with
  * [[Volume.upsert]], and rewrites just them via dynamic partition
  * overwrite. The tick is O(delta·bucket), not O(table) — at 100 TB of
  * history a cadence tick rewrites a handful of height buckets, never
  * the table. Existence probes go through the Hadoop FileSystem API, so
  * the job runs unchanged on HDFS/S3 (`java.io.File` does not).
  *
  * The touched sets cost no job of their own: `byBlock` and the
  * all-time `delta` are each one eager observed cut
  * ([[Snapshots.cutObserved]]) that also collects its `pbucket` set, and
  * PageRank, a global recompute, touches every key bucket. Stored
  * partitions are read with the updates' schema and the `vol` and
  * `edges` inputs with their declared sink schemas (no schema-inference
  * job anywhere in the tick), and each upsert materializes its merged
  * partitions once.
  *
  * vol_all_time is maintained INCREMENTALLY: the tick computes, per
  * unit, Δ = Σ(new by-block row − the stored row it replaces) and adds it
  * to the stored all-time value, so neither leg ever rescans
  * vol_by_block history. Incremental double summation reassociates
  * floating-point adds (same class of reordering as Spark's own partial
  * aggregation); exact-recompute equivalence is pinned to 1e-9 relative
  * tolerance in StreamingJobSpec.
  *
  * A tick is the two DAGs run at once as two legs ([[Concurrently]]),
  * both joined before `run` returns:
  *  - the vol leg: the `byBlock` cut, the `delta` cut, the by-block
  *    upsert, then the all-time upsert;
  *  - the PageRank leg: the `edges` read, [[PageRank.run]], then the
  *    address_pagerank upsert.
  * They are independent: their inputs and outputs are disjoint (`vol`,
  * vol_by_block, vol_all_time against `edges`, address_pagerank), and
  * PageRank is a global recompute, so it needs neither the window nor
  * anything the vol leg writes. Both legs are mostly per-job scheduling
  * and commit time, which each fills with the other's tasks. A failed leg
  * fails the tick only once the other has ended, so the other leg's
  * tables are committed; a rerun rewrites them unchanged.
  *
  * Failure window: inside the vol leg the two upserts stay in sequence.
  * If the all-time upsert fails after the by-block upsert committed, a
  * rerun computes Δ against the rewritten by-block rows, so Δ = 0 and
  * vol_all_time silently misses that window's volume. Run at once, the
  * all-time upsert could also commit while the by-block one fails, and a
  * rerun would then add Δ twice; in sequence only the first window is
  * open.
  */
object RollupJob {

  /** Heights per vol_by_block partition. Default 100k blocks ≈ one
    * partition per ~3 weeks of chain; a tick appends to the newest
    * bucket and occasionally revises a recent one. */
  private def heightBucketSize(spark: SparkSession): Long =
    spark.conf.get("spark.graft.rollup.heightBucketSize", "100000").toLong

  /** Hash-bucket count for key-partitioned rollups (vol_all_time,
    * address_pagerank). Small tables → few buckets; the point is
    * partition-granular rewrites, not parallelism. */
  private val KeyBuckets = 16

  private def keyBucket(key: Column): Column =
    pmod(hash(key), lit(KeyBuckets)).cast("long")

  /** vol_all_time merge: a full outer join of the stored rows with the
    * per-unit deltas on the key, each stored value plus its delta
    * (a unit with no delta keeps its stored value; a new unit gets
    * 0 + delta). Same column order as the stored table. */
  private def addDelta(existing: DataFrame, delta: DataFrame,
                       keys: Seq[String]): DataFrame =
    existing.select(keys.map(col) :+ col("value_adj").as("old_v")
        :+ col("pbucket").as("old_b"): _*)
      .join(delta, keys, "full_outer")
      .select(keys.map(col) ++ Seq(
        when(col("value_adj").isNull, col("old_v"))
          .otherwise(coalesce(col("old_v"), lit(0.0)) + col("value_adj"))
          .as("value_adj"),
        coalesce(col("pbucket"), col("old_b")).as("pbucket")): _*)

  /** @param sinceHeight the tick's input window — only vol rows at
    *   `height >= sinceHeight` are re-rolled (the cadence scheduler
    *   passes the last processed height, minus any reorg margin). None
    *   re-rolls the full table, which stays correct (idempotent) but is
    *   O(history); production ticks should always pass a window. */
  def run(spark: SparkSession, dataDir: String,
          sinceHeight: Option[Long] = None): Unit =
    Concurrently(
      "tick-vol" -> (() => volLeg(spark, dataDir, sinceHeight)),
      "tick-pagerank" -> (() => pageRankLeg(spark, dataDir)))

  /** vol → vol_by_block / vol_all_time over the tick's window
    * (etl_vol_dag). */
  private def volLeg(spark: SparkSession, dataDir: String,
                     sinceHeight: Option[Long]): Unit = {
    val hb = heightBucketSize(spark)
    val byBlockPath = s"$dataDir/vol_by_block"
    val allTimePath = s"$dataDir/vol_all_time"
    val touchedSet = collect_set(col("pbucket")).as("touched")

    // extract: WHERE value_adj != 0 (F5), windowed to the tick; the cut
    // observes the height buckets the by-block upsert will rewrite
    val vol = sinceHeight.foldLeft(
      spark.read.schema(Volume.volSchema).parquet(s"$dataDir/vol")
        .filter(col("value_adj") =!= 0.0))(
      (df, h) => df.filter(col("height") >= h))
    val byBlockCut = Snapshots.cutObserved(Volume.byBlock(vol)
      .withColumn("pbucket", expr(s"height div $hb")),
      MEMORY_AND_DISK, touchedSet)
    val byBlock = byBlockCut.ds
    val byBlockTouched = byBlockCut.longs("touched")

    // all-time delta, computed BEFORE the by-block write rewrites the
    // partitions it reads: each new row minus the stored row it
    // replaces (stored (unit, height) keys are unique — the upsert keeps
    // them so), summed per unit. A re-rolled row equal to its stored
    // value contributes an exact 0.
    val withOld =
      if (Fs.pathExists(spark, byBlockPath))
        byBlock.join(
          Volume.readTouched(spark, byBlockPath, byBlock.schema,
            byBlockTouched)
            .select(col("unit"), col("height"), col("value_adj").as("old")),
          Seq("unit", "height"), "left")
      else byBlock.withColumn("old", lit(null).cast("double"))
    // Lineage CUT, not just cache: delta's plan scans vol_by_block, and
    // the upsert below rewrites those partitions AND refreshes path
    // caches (refreshByPath) — a plain persist would silently recompute
    // delta from the post-write files, collapsing it to 0. The cut
    // observes the key buckets the all-time upsert will rewrite.
    val deltaCut = Snapshots.cutObserved(withOld.groupBy("unit")
      .agg(sum(col("value_adj") - coalesce(col("old"), lit(0.0)))
        .as("delta"))
      .withColumn("pbucket", keyBucket(col("unit"))),
      MEMORY_AND_DISK, touchedSet)
    val delta = deltaCut.ds
    val deltaTouched = deltaCut.longs("touched")

    Volume.upsertPartitioned(spark, byBlockPath, byBlock,
      Seq("height", "unit"), byBlockTouched)

    // add the delta to the stored all-time values (key-hash buckets):
    // the merge folds it into the touched partitions as they are read
    // for the rewrite, so they are read once
    Volume.upsertPartitioned(spark, allTimePath,
      delta.select(col("unit"), col("delta").as("value_adj"),
        col("pbucket")),
      Seq("unit"), deltaTouched, addDelta)
    Snapshots.release(byBlock)
    Snapshots.release(delta)
  }

  /** edges → (address, score) → address_pagerank (etl_pagerank_dag).
    * PageRank is a global recompute, so every address — and thus every
    * key bucket — is touched each tick; the partitioned upsert still
    * keeps the write path uniform and FS-safe. Up to 1M addresses the
    * 20 rounds run on a driver-held rank vector, one Spark job each,
    * and the scores come back as a local relation (see PageRank). */
  private def pageRankLeg(spark: SparkSession, dataDir: String): Unit = {
    val edgesPath = s"$dataDir/edges"
    if (Fs.pathExists(spark, edgesPath)) {
      val edges = spark.read.schema(Transfers.edgesSchema).parquet(edgesPath)
        .select(col("send_addr").as("src"), col("rx_addr").as("dst"))
      val scores = PageRank.run(edges)
        .withColumn("pbucket", keyBucket(col("address")))
      Volume.upsertPartitioned(spark, s"$dataDir/address_pagerank", scores,
        Seq("address"), 0L until KeyBuckets)
    }
  }
}
