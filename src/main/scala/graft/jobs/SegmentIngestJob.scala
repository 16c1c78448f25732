package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.dedup.{Dedup, ParagraphDedup}
import graft.graph.Snapshots
import graft.io.{BucketedStore, Fs}
import graft.io.BucketedStore.Store
import graft.streaming.FileDrop

/** Incremental segment-level ("paragraph") dedup at ingest — the
  * streaming form of [[ParagraphDedup.dedupSegments]]: each arriving
  * micro-batch is deduplicated against (1) the persisted segment-hash
  * store (every segment any EARLIER batch kept or saw) and (2) itself
  * (within-batch keep-first by doc_id, then position), WITHOUT
  * recomputing over the corpus. With doc ids increasing across batches
  * (the append-only ingest contract), the accumulated output is
  * row-identical to running `dedupSegments` over the concatenated
  * corpus in one batch — pinned in SegmentIngestSpec.
  *
  * Persisted structures under `outDir` (the family layout shared with
  * DedupIngest / NearDupIngest / SubstringIngest):
  *  - `segs`: (h) — one row per DISTINCT xxhash64 segment hash ever
  *    seen, bucketed on h so the per-batch anti-join shuffles only the
  *    incoming batch; the store is never re-shuffled. Unlike the
  *    substring store no owner column is needed: ANY history occurrence
  *    predates the whole batch, which is all keep-first asks. The store
  *    carries a `_hash_kind` marker file recording the key function —
  *    segment keys switched md5-hash60 → xxhash64 in round 10 and the
  *    two can NEVER collide, so opening a pre-switch store would
  *    silently stop catching history segments; [[writeBatch]] fails
  *    fast on a marker mismatch instead (re-ingest into a fresh outDir,
  *    or rewrite `segs` under the new hash, to migrate).
  *  - `seen`: ingested doc_ids (replay guard, bucketed on doc_id).
  *  - `documents`: the deduplicated corpus in `dedupSegments`'s exact
  *    schema (doc_id, text_dedup, segs_kept, segs_total).
  *
  * Exactly-once: a replayed batch's doc_ids are already in `seen`, so
  * nothing appends and the segment store gains nothing — idempotent
  * under source replay, like the other ingest jobs.
  */
object SegmentIngestJob {

  /** (h) per distinct segment hash ever seen, bucketed on h. */
  def segStore(outDir: String): Store = Store.keyed(s"$outDir/segs", "h")

  /** Ingested doc_ids (the replay guard), bucketed on doc_id. */
  def seenStore(outDir: String): Store =
    Store.keyed(s"$outDir/seen", "doc_id")

  /** The segment-key hash function this build writes. Bump ONLY with a
    * store migration story: an old store's keys can never match a new
    * hash, which silently breaks the history anti-join. */
  private[jobs] val HashKind = "xxhash64"

  private def hashKindPath(outDir: String) =
    new org.apache.hadoop.fs.Path(s"$outDir/segs/_hash_kind")

  /** Fail fast when an existing `segs` store was written under a
    * different key hash (marker absent ⇒ the pre-versioning md5-hash60
    * era). Underscore-prefixed, so the parquet reader never sees it. */
  private def ensureHashKind(spark: SparkSession, outDir: String): Unit = {
    val segs = segStore(outDir)
    val exists = spark.catalog.tableExists(segs.table) ||
      Fs.pathExists(spark, segs.path)
    if (exists) {
      val p = hashKindPath(outDir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      // marker-absent is genuinely UNKNOWN, not provably md5: stores
      // written by post-switch builds that predate the marker are
      // already xxhash64. Fail-fast stays (a wrong guess silently
      // breaks the history anti-join), but the message must not assert
      // a key kind it cannot know — a known-xxhash64 store migrates by
      // just writing the marker file, no re-ingest needed.
      val found =
        if (!fs.exists(p))
          "unknown (no _hash_kind marker; pre-marker store — keys may " +
            "be md5-hash60 or xxhash64; if known-xxhash64, write " +
            s"'$HashKind' to ${hashKindPath(outDir)} to migrate)"
        else {
          val in = fs.open(p)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        }
      require(found == HashKind,
        s"segment store $outDir/segs holds '$found' keys but this build " +
          s"writes '$HashKind' — the history anti-join would silently " +
          "miss every stored segment; re-ingest into a fresh outDir or " +
          "rewrite the segs store under the new hash")
    }
  }

  private def writeHashKindMarker(spark: SparkSession,
                                  outDir: String): Unit = {
    val p = hashKindPath(outDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) {
      val out = fs.create(p, true)
      try out.write(HashKind.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Batch core, shared by streaming foreachBatch and tests.
    * @param docs (doc_id, text) micro-batch; ids must be fresh and
    *   larger than every previously ingested id for batch-equality
    * @return number of fresh (non-replayed) docs processed this batch
    *   (0 for a fully-replayed batch; docs whose content is dropped
    *   entirely by the dedup gate still count as processed) */
  def writeBatch(docs: DataFrame, outDir: String, w: Int = 20): Long = {
    val spark = docs.sparkSession
    ensureHashKind(spark, outDir)
    val history = BucketedStore.history(spark, _: Store)
    val fresh0 = history(seenStore(outDir)) match {
      case Some(seen) =>
        docs.join(seen.select(col("doc_id")), Seq("doc_id"), "left_anti")
      case None => docs
    }
    val (fresh, n) = Snapshots.cutCounted(fresh0, MEMORY_AND_DISK)
    try {
      val seg = ParagraphDedup.segments(fresh, w)
        .withColumn("h", xxhash64(col("seg")))
        .localCheckpoint(true)
      try {
        // history: any stored hash predates the whole batch
        val vsHistory = history(segStore(outDir)) match {
          case Some(st) =>
            seg.join(st.select(col("h")), Seq("h"), "left_anti")
          case None => seg
        }
        // within-batch keep-first by (doc_id, seg_idx)
        val keepFirst = Window.partitionBy(col("h"))
          .orderBy(col("doc_id").asc, col("seg_idx").asc)
        val kept = vsHistory
          .withColumn("rn", row_number().over(keepFirst))
          .filter(col("rn") === 1)
        val out = kept
          .groupBy(col("doc_id"))
          .agg(
            concat_ws(" ", transform(
              array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
              s => s.getField("seg"))).as("text_dedup"),
            count(lit(1)).as("segs_kept"),
            any_value(col("segs_total")).as("segs_total"))
        if (n > 0) {
          // corpus first, stores second (no-loss ordering): replay
          // after a crash between the writes can duplicate a batch's
          // rows; the reverse order would silently lose docs
          out.write.mode("append").parquet(s"$outDir/documents")
          val distinctH = seg.select(col("h")).distinct()
          val newH = history(segStore(outDir)) match {
            case Some(st) =>
              distinctH.join(st.select(col("h")), Seq("h"), "left_anti")
            case None => distinctH
          }
          BucketedStore.append(newH, segStore(outDir))
          writeHashKindMarker(spark, outDir)
          BucketedStore.append(fresh.select(col("doc_id")),
            seenStore(outDir))
        }
        n
      } finally Snapshots.release(seg)
    } finally Snapshots.release(fresh)
  }

  /** File-drop streaming entry (replayable source + checkpoint →
    * restart-safe, [[FileDrop]]): each dropped file holds JSON lines
    * {"doc_id": …, "text": …}. AvailableNow drains and stops. */
  def runFiles(spark: SparkSession, inDir: String, outDir: String,
               checkpoint: String, w: Int = 20): StreamingQuery =
    FileDrop.drain(spark.readStream.schema("doc_id LONG, text STRING")
      .json(inDir), checkpoint) { (df, _) => writeBatch(df, outDir, w); () }
}
