package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.Snapshots
import graft.ops.Volume

/** Event-time windowed rollup — the Spark-native extension the reference
  * lacks (SURVEY.md §2.12: no watermarks/event-time anywhere in the
  * reference; both jobs are pure foreachBatch). Uses the slot→timestamp
  * affine map as event time, so the by-block cadence rollup becomes a
  * watermarked tumbling-window aggregation that also runs incrementally
  * under Structured Streaming.
  */
object EventTimeRollup {

  /** Tumbling-window volume per unit over `block_time`. Works on batch and
    * streaming frames alike; on a stream add the watermark first.
    * @param vol frame with (unit, value_adj, block_time) */
  def windowedVolume(vol: DataFrame, windowLength: String = "5 minutes",
                     watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(vol)(w => vol.withWatermark("block_time", w))
    src.groupBy(window(col("block_time"), windowLength), col("unit"))
      .agg(sum(col("value_adj")).as("value_adj"))
      .select(col("window.start").as("window_start"), col("unit"),
        col("value_adj"))
  }

  /** Incremental rollup maintenance: a STREAMING windowed aggregation in
    * update mode, upserted into the serving table per micro-batch — the
    * continuous form of RollupJob (the Airflow cadence tick becomes a
    * watermark-driven incremental view). Late rows within the watermark
    * revise their window's row via the keyed upsert.
    *
    * The serving table is partitioned by the window's day
    * (`pbucket = unix_timestamp div 86400`) and maintained with
    * [[graft.ops.Volume.upsertPartitioned]]: update-mode batches only
    * carry windows inside the watermark horizon, so a micro-batch
    * rewrites a couple of recent day partitions — O(delta), cloud-FS-
    * safe, never the read-all→overwrite of the whole serving history
    * (the RollupJob scale fix, applied to the streaming twin). Each
    * micro-batch is cut once, and that cut observes the day buckets it
    * touches, so the stateful aggregation runs once per batch. */
  def incrementalRollup(volStream: DataFrame, servingDir: String,
                        windowLength: String = "5 minutes",
                        watermark: String = "10 minutes")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val agg = windowedVolume(volStream, windowLength, Some(watermark))
    agg.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val c = Snapshots.cutObserved(batch.withColumn("pbucket",
            expr("unix_timestamp(window_start) div 86400")),
          StorageLevel.MEMORY_AND_DISK,
          collect_set(col("pbucket")).as("touched"))
        try Volume.upsertPartitioned(batch.sparkSession, servingDir, c.ds,
          Seq("window_start", "unit"), c.longs("touched"))
        finally Snapshots.release(c.ds)
      }
      .start()
  }

  /** Streaming exactly-once tx dedup: chain-rollback replays re-deliver
    * blocks, so downstream state dedups tx hashes within the watermark
    * horizon (bounded state — the streaming twin of the batch
    * dedup-keep-last D1). On a batch frame falls back to dropDuplicates. */
  def dedupTxs(txs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    if (txs.isStreaming)
      txs.withWatermark("block_time", watermark)
        .dropDuplicatesWithinWatermark("hash")
    else txs.dropDuplicates("hash")
}
