package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import graft.dedup.Dedup
import graft.graph.Snapshots
import graft.io.BucketedStore
import graft.io.BucketedStore.Store
import graft.streaming.FileDrop

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

  /** The persisted hash store under `outDir`, bucketed on content_hash
    * and read through [[BucketedStore.history]]: its scan reports
    * hash-partitioning on content_hash, so the per-batch anti-join
    * shuffles only the (small) incoming batch — the store itself is
    * never re-shuffled or broadcast (asserted in DedupIngestSpec). */
  def hashStore(outDir: String): Store =
    Store.keyed(s"$outDir/content_hash", "content_hash")

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
    val store = hashStore(outDir)
    val (fresh, rows) = Snapshots.cutCounted(
      BucketedStore.history(spark, store) match {
        case Some(seen) =>
          inBatch.join(seen.select(col("content_hash")),
            Seq("content_hash"), "left_anti")
        case None => inBatch
      }, MEMORY_AND_DISK)
    StagedHash(fresh, rows, () =>
      BucketedStore.append(fresh.select(col("content_hash")), store))
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

  /** Bucket-preserving small-file compaction of the hash store — run
    * periodically on append-heavy stores ([[BucketedStore.compact]];
    * audit with [[graft.io.Layout.bucketFileCounts]]). */
  def compactStores(spark: SparkSession, outDir: String): Unit =
    BucketedStore.compact(spark, hashStore(outDir))

  /** File-drop streaming entry (replayable source + checkpoint →
    * restart-safe, [[FileDrop]]): each dropped file holds JSON lines
    * {"doc_id": …, "text": …}. AvailableNow drains and stops. */
  def runFiles(spark: SparkSession, inDir: String, outDir: String,
               checkpoint: String): StreamingQuery =
    FileDrop.drain(spark.readStream.schema("doc_id LONG, text STRING")
      .json(inDir), checkpoint) { (df, _) => writeBatch(df, outDir); () }
}
