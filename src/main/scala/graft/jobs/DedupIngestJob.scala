package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import graft.dedup.Dedup
import graft.graph.Snapshots

/** Incremental dedup at ingest — the continuous-corpus-building pattern:
  * each arriving micro-batch of documents is (1) deduplicated within the
  * batch (keep lowest doc_id per content hash), then (2) anti-joined on
  * the 60-bit content hash against the persisted hash store, and only
  * genuinely-new documents append to the corpus + hash store. The store
  * (16 bytes/doc) is an external BUCKETED table on content_hash, so the
  * anti-join shuffles only the incoming micro-batch into the store's
  * bucketing — at 100 TB of corpus the store is never re-shuffled per
  * batch, and new data never rescans the corpus itself. (Appends add
  * one file per bucket per batch; a real deployment compacts the store
  * on a slow cadence.)
  *
  * Exactly-once notes: with a replayable source + checkpoint, a replayed
  * batch re-appends — but its docs are already in the hash store, so the
  * anti-join drops them and the corpus stays duplicate-free (the
  * idempotence the content hash buys; pinned in the spec).
  */
object DedupIngestJob {

  private def hashed(docs: DataFrame): DataFrame =
    docs.withColumn("content_hash", Dedup.hash60(Dedup.normalize(col("text"))))

  /** Buckets of the hash store. Must stay constant for a given store —
    * Spark rejects appends with a different bucket spec. */
  private def storeBuckets(spark: SparkSession): Int =
    spark.conf.get("spark.graft.dedup.hashStoreBuckets", "64").toInt

  /** Catalog name of the external bucketed store table rooted at
    * `outDir` (bucket specs live in the catalog, not in parquet). */
  private def storeTable(outDir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(outDir.getBytes("UTF-8"))
    "graft_hash_store_" + md.take(8).map("%02x".format(_)).mkString
  }

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** The persisted hash store, read bucket-aware: via the catalog table
    * its scan reports hash-partitioning on content_hash, so the
    * per-batch anti-join shuffles only the (small) incoming batch —
    * the store itself is never re-shuffled (asserted in
    * DedupIngestSpec). A fresh session over an existing store
    * re-registers the catalog entry from the persisted layout
    * descriptor ([[graft.io.BucketedStore]], r17) so the co-located
    * plan survives session boundaries. A missing store is the one
    * absence handled here; genuine read failures PROPAGATE so the
    * batch retries instead of silently admitting duplicates.
    *
    * The store carries a `merge` join hint (all ingest-job storeViews
    * do): a left-anti join can only broadcast its RIGHT side, which is
    * the store — the side that grows without bound — so without the
    * hint Spark re-collects and re-broadcasts the whole store every
    * micro-batch while it sits under the broadcast threshold, and the
    * per-batch cost climbs with store size until the driver chokes
    * (measured: SegmentIngestJob 5.9 → 21 s/batch over 12 batches
    * broadcast-on vs flat ~5 s with merge — SCALE_AUDIT "ingest
    * throughput"). Sort-merge keeps the bucketed store co-located:
    * only the batch side exchanges, at any store size. */
  private[graft] def storeView(spark: SparkSession,
                               outDir: String): Option[DataFrame] =
    graft.io.BucketedStore
      .view(spark, storeTable(outDir), s"$outDir/content_hash")
      .map(_.hint("merge"))

  /** Exact-dedup stage core, two-phase so composed funnels
    * ([[CorpusIngestJob]]) can write their corpus BEFORE committing the
    * store (the no-loss ordering): `out` is the eagerly materialized
    * batch survivors (original columns + `content_hash`; in-batch
    * keep-lowest-id per hash, store hashes anti-joined away), `rows`
    * their count (observed on the cut) and `commit()` appends their
    * hashes to the bucketed store. Caller releases `out`
    * ([[graft.graph.Snapshots.release]]). */
  private[jobs] case class StagedHash(out: DataFrame, rows: Long,
                                      commit: () => Unit)

  private[jobs] def hashCore(docs: DataFrame, outDir: String): StagedHash = {
    val spark = docs.sparkSession
    // in-batch dedup: one doc per content hash, lowest id wins
    val inBatch = hashed(docs)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("content_hash")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).drop("rn")
    // cross-batch dedup: drop docs whose hash the store already holds
    val (fresh, rows) = Snapshots.cutCounted(storeView(spark, outDir) match {
      case Some(seen) =>
        inBatch.join(seen.select(col("content_hash")),
          Seq("content_hash"), "left_anti")
      case None => inBatch
    }, MEMORY_AND_DISK)
    StagedHash(fresh, rows, () =>
      graft.io.BucketedStore.append(fresh.select(col("content_hash")),
        storeTable(outDir), s"$outDir/content_hash",
        "content_hash", Seq("content_hash"), storeBuckets(spark)))
  }

  /** Batch core, shared by streaming foreachBatch and tests.
    * @return number of new (non-duplicate) docs appended */
  def writeBatch(docs: DataFrame, outDir: String): Long = {
    val staged = hashCore(docs, outDir)
    try {
      val n = staged.rows
      if (n > 0) {
        // corpus first, store second: a crash between the writes can
        // re-admit this batch's docs on replay (rare duplicate), while
        // the reverse order would silently LOSE them (hash present,
        // doc absent). Atomic both-or-neither needs a transactional
        // table format; with plain parquet, favor no-loss.
        staged.out.drop("content_hash").write.mode("append")
          .parquet(s"$outDir/documents")
        staged.commit()
      }
      n
    } finally Snapshots.release(staged.out)
  }

  /** File-drop streaming entry (replayable source + checkpoint →
    * restart-safe): each dropped file holds JSON lines
    * {"doc_id": …, "text": …}. AvailableNow drains and stops. */
  /** Bucket-preserving small-file compaction of the hash store — run
    * periodically on append-heavy stores ([[graft.io.BucketedStore
    * .compact]]; audit with [[graft.io.Layout.bucketFileCounts]]). */
  def compactStores(spark: SparkSession, outDir: String): Unit =
    graft.io.BucketedStore.compact(spark, storeTable(outDir),
      s"$outDir/content_hash")

  def runFiles(spark: SparkSession, inDir: String, outDir: String,
               checkpoint: String): StreamingQuery = {
    val schema = "doc_id LONG, text STRING"
    spark.readStream.schema(schema).json(inDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: DataFrame, _: Long) =>
        writeBatch(df, outDir); ()
      }
      .start()
  }
}
