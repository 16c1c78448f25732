package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import graft.graph.Snapshots
import graft.pipeline.TrainingData
import graft.streaming.FileDrop
import graft.text.TextAnalysis

/** The corpus-preparation funnel as a STREAMING ingest job — the
  * incremental twin of [[graft.pipeline.CorpusPipeline.prepare]]'s
  * deterministic sub-chain, composed from the per-stage ingest cores:
  *
  *   1. language filter   — row-local ([[TextAnalysis.langIdCols]]),
  *      stateless
  *   2. quality floor     — row-local `quality ≥ floor`, stateless.
  *      The batch pipeline gates on a per-source PERCENTILE, which is
  *      corpus-relative and therefore not incrementally computable
  *      without re-scoring history; real deployments calibrate the
  *      percentile offline and freeze the resulting score threshold —
  *      that frozen floor is this parameter.
  *   3. exact dedup       — [[DedupIngestJob.hashCore]]: in-batch
  *      keep-lowest-id per content hash + bucketed hash-store
  *      anti-join (history is never re-scanned)
  *   4. substring scrub   — [[SubstringIngestJob.scrubCore]]: k-gram
  *      spans already owned by an earlier doc (earlier batch via the
  *      bucketed gram store, or earlier in this batch) are removed
  *      keep-first; fully-covered docs leave the corpus
  *   4b. classifier gate  — [[graft.text.NaiveBayes.classify]] with a
  *      FROZEN model on the scrubbed text, per-doc and stateless (the
  *      streaming twin of CorpusPipeline's stage 4b; like the quality
  *      floor, the model is calibrated offline and frozen — retraining
  *      on accumulated history would make past keep decisions
  *      batch-boundary-dependent)
  *   5. decontamination   — shared-shingle drop against a FIXED
  *      benchmark set, per-doc and stateless
  *
  * With doc ids increasing across batches, the accumulated corpus is
  * row-identical to running the batch chain (lang filter → quality
  * floor → keep-min-per-hash → `SubstringDedup.dedupCorpus` →
  * frozen-model classifier gate → contamination drop) over the
  * concatenated input — pinned in CorpusIngestSpec.
  *
  * Replay: a replayed batch re-drops its rows row-locally (stages 1–2)
  * and at the hash store (stage 3 — every surviving hash is already
  * present), so nothing reaches the scrub store or the corpus:
  * idempotent with no separate seen-store. Crash between the corpus
  * write and the store commits re-appends the batch on replay (rare
  * duplicate rows), while the reverse order would silently LOSE docs —
  * the same no-loss ordering as every ingest job here.
  *
  * Scale: stages 1–2 ride the scan (pure projections); stages 3–4
  * shuffle only the incoming batch into the stores' bucketing; stage 5
  * broadcasts the (small, fixed) benchmark shingles. Nothing re-reads
  * or re-shuffles the accumulated corpus, at any history size.
  */
object CorpusIngestJob {

  /** Batch core, shared by streaming foreachBatch and tests.
    * @param docs      (doc_id, text, …) micro-batch; ids fresh and
    *   increasing across batches for batch-equality
    * @param benchmark optional fixed (doc_id, text) eval set
    * @param classifier optional FROZEN (NaiveBayes model, keep labels)
    *   gate applied to the scrubbed text
    * @return number of corpus docs appended */
  def writeBatch(docs: DataFrame, outDir: String, langs: Seq[String],
                 qualityFloor: Double, scrubK: Int = 8,
                 benchmark: Option[DataFrame] = None,
                 classifier: Option[(DataFrame, Seq[String])] = None)
      : Long = {
    val cols = docs.columns.map(col).toSeq
    // one-pass fused features (one split + one fold, values identical
    // to the separate langIdCols/qualityCol trees — see
    // TextAnalysis.gateFeatures)
    val gated = TextAnalysis.gateFeatures(docs)
      .filter(col("__lang").isin(langs: _*) && col("__q") >= qualityFloor)
      .select(cols: _*)
    val hashStage = DedupIngestJob.hashCore(gated, s"$outDir/hash")
    val exact = hashStage.out // checkpointed survivors + content_hash
    try {
      val scrubStage = SubstringIngestJob.scrubCore(
        exact.select(col("doc_id"), col("text")), s"$outDir/scrub",
        scrubK)
      val scrubbed = exact.drop("text")
        .join(scrubStage.out.filter(col("kept_text") =!= "")
          .withColumnRenamed("kept_text", "text")
          .select(col("doc_id"), col("text")), Seq("doc_id"))
        .select(cols: _*)
      val classed = classifier match {
        case Some((model, keep)) => scrubbed.join(
          graft.text.NaiveBayes.classify(scrubbed, model)
            .filter(col("pred_label").isin(keep: _*))
            .select(col("doc_id")), Seq("doc_id"), "left_semi")
        case None => scrubbed
      }
      val clean = benchmark match {
        case Some(b) => classed.join(
          TrainingData.contamination(classed, b).select(col("doc_id")),
          Seq("doc_id"), "left_anti")
        case None => classed
      }
      val (cleanKept, appended) =
        Snapshots.cutCounted(clean, MEMORY_AND_DISK)
      try {
        // stores must learn this batch's hashes/grams even when the
        // scrub or decontamination emptied the corpus delta — the
        // content was still SEEN, and future copies of it are dups
        if (hashStage.rows > 0) {
          if (appended > 0)
            cleanKept.write.mode("append").parquet(s"$outDir/documents")
          scrubStage.commit()
          hashStage.commit()
        }
        appended
      } finally {
        scrubStage.release()
        Snapshots.release(cleanKept)
      }
    } finally Snapshots.release(hashStage.out)
  }

  /** File-drop streaming entry (replayable source + checkpoint →
    * restart-safe, [[FileDrop]]): each dropped file holds JSON lines
    * {"doc_id": …, "text": …, "source": …}. AvailableNow drains and
    * stops. */
  def runFiles(spark: SparkSession, inDir: String, outDir: String,
               checkpoint: String, langs: Seq[String],
               qualityFloor: Double, scrubK: Int = 8): StreamingQuery =
    FileDrop.drain(spark.readStream
      .schema("doc_id LONG, text STRING, source STRING").json(inDir),
      checkpoint) { (df, _) =>
      writeBatch(df, outDir, langs, qualityFloor, scrubK); ()
    }
}
