package graft.jobs

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import graft.io.Fs
import graft.ops.{Transfers, Volume}
import graft.graph.{PageRank, Snapshots}

/** Batch rollup chain (SURVEY.md §3.3) — the Airflow DAGs as one job:
  * vol → vol_by_block (upserted on its key) → vol_all_time, plus
  * PageRank over the transfer edges → address_pagerank.
  *
  * The Airflow layer was scheduling, not semantics
  * (/root/reference/airflow/archive/dags/etl_vol_dag.py,
  * etl_pagerank_dag.py); invoke this per cadence tick.
  *
  * Scale design: every rollup table is stored PARTITIONED by a bucket
  * column derived from its key (`pbucket` — height range for
  * vol_by_block, key hash for vol_all_time / address_pagerank). The
  * by-block upsert touches only the height buckets the tick's window
  * lands in: it reads those partitions back (partition-pruned scan),
  * merges with [[Volume.upsert]], and rewrites just them via dynamic
  * partition overwrite. That write is O(delta·bucket), not O(table) —
  * at 100 TB of history a cadence tick rewrites a handful of height
  * buckets, never the table. vol_all_time and address_pagerank are
  * global recomputes (one row per unit / address), written straight
  * over their key buckets with [[Volume.overwritePartitions]]: no
  * read-back and no merge. That write replaces every stored key bucket
  * because neither key set ever shrinks: vol_by_block rows are never
  * deleted, and `edges` is append-only. A failed write leaves the old
  * rows readable. Existence probes go through the Hadoop FileSystem
  * API, so the job runs unchanged on HDFS/S3 (`java.io.File` does not).
  *
  * vol_all_time is recomputed each tick from the committed vol_by_block,
  * as the reference does ("by_block feeds both loads",
  * etl_vol_dag.py:78-92). So a rerun repairs any failed load: after a
  * failed all-time write it re-sums the by-block rows the failed tick
  * committed, and after a failed by-block upsert it commits them first.
  * No failure loses or doubles a window's volume, and no ledger is kept.
  * The price is a read of the whole vol_by_block each tick, not only
  * its touched height buckets. That read grows with history, but never
  * past the tick's own `vol` scan, which reads every `vol` file: the
  * by-block table holds at most one row per `vol` row.
  *
  * The touched set costs no job of its own: `byBlock` is one eager
  * observed cut ([[Snapshots.cutObserved]]) that also collects its
  * `pbucket` set. Stored tables are read with known schemas and the
  * `vol` and `edges` inputs with their declared sink schemas (no
  * schema-inference job anywhere in the tick), and the by-block upsert
  * materializes its merged partitions once.
  *
  * A tick is the two DAGs run at once as two legs ([[Concurrently]]),
  * both joined before `run` returns:
  *  - the vol leg: the `byBlock` cut, the by-block upsert, then the
  *    all-time recompute and its write;
  *  - the PageRank leg: the `edges` read, [[PageRank.run]], then the
  *    address_pagerank write.
  * They are independent: their inputs and outputs are disjoint (`vol`,
  * vol_by_block, vol_all_time against `edges`, address_pagerank), and
  * PageRank is a global recompute, so it needs neither the window nor
  * anything the vol leg writes. Both legs are mostly per-job scheduling
  * and commit time, which each fills with the other's tasks. A failed leg
  * fails the tick only once the other has ended, so the other leg's
  * tables are committed; a rerun rewrites them unchanged.
  */
object RollupJob {

  /** Heights per vol_by_block partition: 100k blocks ≈ one partition
    * per ~3 weeks of chain; a tick appends to the newest bucket and
    * occasionally revises a recent one. A constant: the size is not
    * stored with the table, so a store must keep the one it began with. */
  private val HeightBucketSize = 100000L

  /** Hash-bucket count for key-partitioned rollups (vol_all_time,
    * address_pagerank). Small tables → few buckets. Both are rewritten
    * whole each tick; the layout is what lets that write be a dynamic
    * partition overwrite, which leaves the table readable if it fails. */
  private val KeyBuckets = 16

  private def keyBucket(key: Column): Column =
    pmod(hash(key), lit(KeyBuckets)).cast("long")

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

  /** vol → vol_by_block over the tick's window, then vol_all_time
    * recomputed from the committed vol_by_block (etl_vol_dag). */
  private def volLeg(spark: SparkSession, dataDir: String,
                     sinceHeight: Option[Long]): Unit = {
    val byBlockPath = s"$dataDir/vol_by_block"

    // extract: WHERE value_adj != 0 (F5), windowed to the tick; the cut
    // observes the height buckets the by-block upsert will rewrite
    val vol = sinceHeight.foldLeft(
      spark.read.schema(Volume.volSchema).parquet(s"$dataDir/vol")
        .filter(col("value_adj") =!= 0.0))(
      (df, h) => df.filter(col("height") >= h))
    val byBlockCut = Snapshots.cutObserved(Volume.byBlock(vol)
      .withColumn("pbucket", expr(s"height div $HeightBucketSize")),
      MEMORY_AND_DISK, collect_set(col("pbucket")).as("touched"))
    val byBlock = byBlockCut.ds
    try Volume.upsertPartitioned(spark, byBlockPath, byBlock,
      Seq("height", "unit"), byBlockCut.longs("touched"))
    finally Snapshots.release(byBlock)

    val allTime = Volume.allTime(
        spark.read.schema(byBlock.schema).parquet(byBlockPath))
      .withColumn("pbucket", keyBucket(col("unit")))
    Volume.overwritePartitions(allTime, s"$dataDir/vol_all_time")
  }

  /** edges → (address, score) → address_pagerank (etl_pagerank_dag).
    * PageRank is a global recompute, so the scores are written straight
    * over the key buckets, as the all-time sums are. Up to 1M addresses
    * the 20 rounds run on a driver-held rank vector, one Spark job each,
    * and the scores come back as a local relation (see PageRank). */
  private def pageRankLeg(spark: SparkSession, dataDir: String): Unit = {
    val edgesPath = s"$dataDir/edges"
    if (Fs.pathExists(spark, edgesPath)) {
      val edges = spark.read.schema(Transfers.edgesSchema).parquet(edgesPath)
        .select(col("send_addr").as("src"), col("rx_addr").as("dst"))
      val scores = PageRank.run(edges)
        .withColumn("pbucket", keyBucket(col("address")))
      Volume.overwritePartitions(scores, s"$dataDir/address_pagerank")
    }
  }
}
