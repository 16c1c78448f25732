package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import graft.graph.Snapshots
import graft.io.BucketedStore
import graft.io.BucketedStore.Store
import graft.streaming.FileDrop

/** Incremental exact-substring scrub at ingest — the streaming form of
  * [[graft.dedup.SubstringDedup.dedupCorpus]]: each arriving micro-batch
  * is scrubbed against (1) the persisted k-gram store (every gram any
  * EARLIER batch contributed) and (2) itself (within-batch keep-first),
  * WITHOUT ever recomputing over the corpus. With doc ids increasing
  * across batches (the append-only ingest contract), the accumulated
  * output is row-identical to running `dedupCorpus` over the
  * concatenated corpus in one batch — pinned in SubstringIngestSpec.
  *
  * Three persisted structures under `outDir`:
  *  - `grams`: (g, min_doc) — one row per DISTINCT k-gram ever seen,
  *    tagged with the first doc that held it; an external table
  *    bucketed on g, so the per-batch join/anti-join shuffles only the
  *    incoming batch (the store is never re-shuffled — same layout
  *    story as DedupIngestJob's hash store). Grams are stored as
  *    strings for exact parity with the batch operator; at 100 TB
  *    switch the store key to xxhash64(g) (8 bytes) and accept the
  *    2⁻⁶⁴-per-pair collision-scrub risk.
  *  - `seen`: ingested doc_ids (replay guard, bucketed on doc_id).
  *  - `documents`: the scrubbed corpus, `dedupCorpus`'s exact schema
  *    (doc_id, kept_text, n_tokens, n_removed).
  *
  * Exactly-once: a replayed batch's doc_ids are already in `seen`, so
  * nothing appends and the gram store gains nothing (its grams are
  * already present) — idempotent under source replay, like the other
  * ingest jobs.
  */
object SubstringIngestJob {

  /** (g, min_doc) per distinct k-gram ever seen, bucketed on g. */
  def gramStore(outDir: String): Store = Store.keyed(s"$outDir/grams", "g")

  /** Ingested doc_ids (the replay guard), bucketed on doc_id. */
  def seenStore(outDir: String): Store =
    Store.keyed(s"$outDir/seen", "doc_id")

  /** Scrub stage core, two-phase so composed funnels
    * ([[CorpusIngestJob]]) can write their corpus BEFORE committing the
    * gram store (the no-loss ordering). `fresh` must already be
    * replay-guarded and materialized (it is scanned several times);
    * `out` is the scrubbed batch in `dedupCorpus`'s schema,
    * `commit()` appends the batch's new grams, `release()` drops the
    * intermediate checkpoint. */
  private[jobs] case class StagedScrub(out: DataFrame, commit: () => Unit,
                                       release: () => Unit)

  private[jobs] def scrubCore(fresh: DataFrame, outDir: String,
                              k: Int): StagedScrub = {
    val spark = fresh.sparkSession
    val base = fresh.select(col("doc_id"), split(col("text"), " ").as("w"))
    // one row per k-gram occurrence with its start position — the
    // inverted-occurrence shape of the batch operator (never a pair
    // join)
    val sh = base.filter(size(col("w")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(w) - $k), i -> " +
          s"struct(i AS s, array_join(slice(w, i + 1, $k), ' ') AS g))"))
        .as("e"))
      .select(col("doc_id"), col("e.s").as("s"), col("e.g").as("g"))
      .localCheckpoint(true)
    val batchMin = sh.groupBy(col("g")).agg(min(col("doc_id")).as("bmin"))
    // a doc's occurrence is covered when an EARLIER doc holds the
    // gram — earlier batch (store join) or earlier in this batch
    val store = BucketedStore.history(spark, gramStore(outDir))
    val withHistory = store match {
      case Some(st) => batchMin.join(
        st.select(col("g"), col("min_doc")), Seq("g"), "left")
        .select(col("g"),
          least(col("bmin"), coalesce(col("min_doc"), col("bmin")))
            .as("min_doc"))
      case None => batchMin.select(col("g"), col("bmin").as("min_doc"))
    }
    val starts = sh.join(withHistory, Seq("g"))
      .filter(col("doc_id") > col("min_doc"))
      .groupBy(col("doc_id")).agg(collect_set(col("s")).as("starts"))
    val out = base.join(starts, Seq("doc_id"), "left")
      .withColumn("idx", expr("sequence(0, size(w) - 1)"))
      .withColumn("cov",
        when(col("starts").isNull, expr("CAST(array() AS array<int>)"))
          .otherwise(expr(s"filter(idx, t -> " +
            s"exists(starts, st -> st <= t AND t < st + $k))")))
      .select(col("doc_id"),
        expr("array_join(transform(" +
          "filter(idx, t -> NOT array_contains(cov, t)), " +
          "t -> element_at(w, t + 1)), ' ')").as("kept_text"),
        size(col("w")).cast("long").as("n_tokens"),
        size(col("cov")).cast("long").as("n_removed"))
    StagedScrub(out,
      () => {
        val newGrams = store match {
          case Some(st) => withHistory.join(st.select(col("g")),
            Seq("g"), "left_anti")
          case None => withHistory
        }
        BucketedStore.append(newGrams.select(col("g"), col("min_doc")),
          gramStore(outDir))
      },
      () => Snapshots.release(sh))
  }

  /** Batch core, shared by streaming foreachBatch and tests.
    * @param docs (doc_id, text) micro-batch; ids must be fresh and
    *   larger than every previously ingested id for batch-equality
    * @return number of fresh (non-replayed) docs processed this batch
    *   (0 for a fully-replayed batch; docs whose content is dropped
    *   entirely by the dedup gate still count as processed) */
  def writeBatch(docs: DataFrame, outDir: String, k: Int = 8): Long = {
    val spark = docs.sparkSession
    // replay guard first: a doc already ingested contributes nothing
    val fresh0 = BucketedStore.history(spark, seenStore(outDir)) match {
      case Some(seen) =>
        docs.join(seen.select(col("doc_id")), Seq("doc_id"), "left_anti")
      case None => docs
    }
    val (fresh, n) = Snapshots.cutCounted(fresh0, MEMORY_AND_DISK)
    try {
      val staged = scrubCore(fresh, outDir, k)
      if (n > 0) {
        // corpus first, stores second (no-loss ordering, as the other
        // ingest jobs): a crash between the writes can re-append this
        // batch on replay (rare duplicate rows), while the reverse
        // order would silently LOSE docs (marked seen, never written)
        staged.out.write.mode("append").parquet(s"$outDir/documents")
        staged.commit()
        BucketedStore.append(fresh.select(col("doc_id")), seenStore(outDir))
      }
      staged.release()
      n
    } finally Snapshots.release(fresh)
  }

  /** File-drop streaming entry (replayable source + checkpoint →
    * restart-safe, [[FileDrop]]): each dropped file holds JSON lines
    * {"doc_id": …, "text": …}. AvailableNow drains and stops. */
  def runFiles(spark: SparkSession, inDir: String, outDir: String,
               checkpoint: String, k: Int = 8): StreamingQuery =
    FileDrop.drain(spark.readStream.schema("doc_id LONG, text STRING")
      .json(inDir), checkpoint) { (df, _) => writeBatch(df, outDir, k); () }
}
