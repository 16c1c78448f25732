package graft.jobs

import org.apache.spark.sql.{Column, SparkSession}
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
  * vol_by_block, key hash for vol_all_time / address_pagerank). The
  * by-block upsert touches only the height buckets the tick's window
  * lands in: it reads those partitions back (partition-pruned scan),
  * merges with [[Volume.upsert]], and rewrites just them via dynamic
  * partition overwrite. That write is O(delta·bucket), not O(table) —
  * at 100 TB of history a cadence tick rewrites a handful of height
  * buckets, never the table. vol_all_time and address_pagerank are
  * global recomputes (one row per unit / address) and rewrite every key
  * bucket. Existence probes go through the Hadoop FileSystem API, so
  * the job runs unchanged on HDFS/S3 (`java.io.File` does not).
  *
  * vol_all_time is recomputed each tick from the committed vol_by_block,
  * as the reference does ("by_block feeds both loads",
  * etl_vol_dag.py:78-92). So a rerun repairs any failed load: after a
  * failed all-time upsert it re-sums the by-block rows the failed tick
  * committed, and after a failed by-block upsert it commits them first.
  * No failure loses or doubles a window's volume, and no ledger is kept.
  * The price is a read of the whole vol_by_block each tick, not only
  * its touched height buckets. That read grows with history, but never
  * past the tick's own `vol` scan, which reads every `vol` file: the
  * by-block table holds at most one row per `vol` row.
  *
  * The touched sets cost no job of their own: `byBlock` is one eager
  * observed cut ([[Snapshots.cutObserved]]) that also collects its
  * `pbucket` set, and the two recomputes touch every key bucket. Stored
  * tables are read with known schemas and the `vol` and `edges` inputs
  * with their declared sink schemas (no schema-inference job anywhere
  * in the tick), and each upsert materializes its merged partitions
  * once.
  *
  * A tick is the two DAGs run at once as two legs ([[Concurrently]]),
  * both joined before `run` returns:
  *  - the vol leg: the `byBlock` cut, the by-block upsert, then the
  *    all-time recompute and its upsert;
  *  - the PageRank leg: the `edges` read, [[PageRank.run]], then the
  *    address_pagerank upsert.
  * They are independent: their inputs and outputs are disjoint (`vol`,
  * vol_by_block, vol_all_time against `edges`, address_pagerank), and
  * PageRank is a global recompute, so it needs neither the window nor
  * anything the vol leg writes. Both legs are mostly per-job scheduling
  * and commit time, which each fills with the other's tasks. A failed leg
  * fails the tick only once the other has ended, so the other leg's
  * tables are committed; a rerun rewrites them unchanged.
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
    val hb = heightBucketSize(spark)
    val byBlockPath = s"$dataDir/vol_by_block"

    // extract: WHERE value_adj != 0 (F5), windowed to the tick; the cut
    // observes the height buckets the by-block upsert will rewrite
    val vol = sinceHeight.foldLeft(
      spark.read.schema(Volume.volSchema).parquet(s"$dataDir/vol")
        .filter(col("value_adj") =!= 0.0))(
      (df, h) => df.filter(col("height") >= h))
    val byBlockCut = Snapshots.cutObserved(Volume.byBlock(vol)
      .withColumn("pbucket", expr(s"height div $hb")),
      MEMORY_AND_DISK, collect_set(col("pbucket")).as("touched"))
    val byBlock = byBlockCut.ds
    try Volume.upsertPartitioned(spark, byBlockPath, byBlock,
      Seq("height", "unit"), byBlockCut.longs("touched"))
    finally Snapshots.release(byBlock)

    val allTime = Volume.allTime(
        spark.read.schema(byBlock.schema).parquet(byBlockPath))
      .withColumn("pbucket", keyBucket(col("unit")))
    Volume.upsertPartitioned(spark, s"$dataDir/vol_all_time", allTime,
      Seq("unit"), 0L until KeyBuckets)
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
