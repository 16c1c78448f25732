package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import graft.dedup.Dedup
import graft.graph.Snapshots
import graft.io.BucketedStore
import graft.io.BucketedStore.Store
import graft.streaming.FileDrop

/** Incremental NEAR-dup suppression at ingest — [[DedupIngestJob]]'s
  * sibling for the fuzzy half of corpus building: exact dedup drops
  * byte-identical re-crawls; this drops re-crawls with a tweaked
  * boilerplate line, the dominant duplicate class in web corpora.
  *
  * Per micro-batch:
  *   1. MinHash signatures (numHashes seeds over word-shingle xxhashes)
  *      and LSH band buckets are computed for the BATCH only — the
  *      corpus is never re-signatured.
  *   2. In-batch near-dup clusters (banded candidates, verified by
  *      signature agreement, closed under connected components) each
  *      contribute ONE representative: the lowest doc_id.
  *   3. Representatives anti-match the persisted band-bucket store:
  *      any store doc sharing a bucket is a candidate, candidates are
  *      verified against the persisted signature store, and a verified
  *      match drops the representative (and with it its cluster).
  *   4. Survivors append to the corpus; their signatures and buckets
  *      append to the two stores.
  *
  * Store layout mirrors the exact job's 100 TB shape: the bucket store
  * is bucketed BY bucket and the signature store BY doc_id, so both
  * per-batch joins shuffle only batch-sized frames into the stores'
  * bucketing — the stores are never re-shuffled and the corpus text is
  * never rescanned. Store cost is numHashes·8 B + bands·16 B per doc
  * (~192 B at 16/4), independent of document size.
  *
  * Match semantics: agreement = fraction of signature positions equal —
  * the unbiased MinHash estimate of Jaccard similarity. `minMatchFrac`
  * is therefore an (estimated) Jaccard threshold; banding bounds which
  * pairs are ever TESTED (same sub-quadratic candidate generation as
  * Dedup.minhashDuplicatePairs), agreement decides. Replay idempotence
  * comes free: a replayed survivor agrees 1.0 with its own stored
  * signature and is dropped (pinned in NearDupIngestSpec).
  *
  * Crash ordering matches DedupIngestJob: corpus first, stores second —
  * a crash between the writes can re-admit a batch on replay (rare
  * duplicate) while the reverse order would silently lose documents.
  */
object NearDupIngestJob {

  private val NumHashes = 16
  private val Bands = 4
  private val ShingleN = 3

  private def minMatchFrac(spark: SparkSession): Double =
    spark.conf.get("spark.graft.neardup.minMatchFrac", "0.7").toDouble

  /** (doc_id, sig) per admitted doc, bucketed on doc_id. */
  def sigStore(outDir: String): Store = Store.keyed(s"$outDir/sigs", "doc_id")

  /** (bucket, doc_id) per band of each admitted doc, bucketed on
    * bucket. */
  def bucketStore(outDir: String): Store =
    Store.keyed(s"$outDir/buckets", "bucket")

  /** (doc_id, sig) — the per-doc signature vector, seed-ordered. */
  private def packedSigs(docs: DataFrame): DataFrame =
    Dedup.minhashSignatures(Dedup.shingleKeys(docs, ShingleN), NumHashes)
      .groupBy(col("doc_id"))
      .agg(transform(
        sort_array(collect_list(struct(col("seed"), col("minhash")))),
        x => x.getField("minhash")).as("sig"))

  /** (doc_id, bucket) — one row per band; bucket hashes the band's
    * slice of the signature (same banding as Dedup.lshCandidatePairs). */
  private def bandBuckets(sigs: DataFrame): DataFrame = {
    val rows = NumHashes / Bands
    sigs.select(col("doc_id"),
      explode(array((0 until Bands).map(b =>
        xxhash64(lit(b), slice(col("sig"), b * rows + 1, rows))): _*))
        .as("bucket"))
  }

  /** Fraction of equal signature positions — MinHash's Jaccard
    * estimate. */
  private def agreement(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / NumHashes

  /** Batch core, shared by streaming foreachBatch and tests.
    * @return number of admitted (non-near-dup) docs appended */
  def writeBatch(docs: DataFrame, outDir: String): Long = {
    val spark = docs.sparkSession
    val minFrac = minMatchFrac(spark)
    val sigs = packedSigs(docs).localCheckpoint(true)
    val buckets = bandBuckets(sigs).localCheckpoint(true)

    // in-batch: banded candidates → agreement-verified pairs →
    // components → keep the lowest id per cluster
    val cand = buckets.select(col("doc_id").as("id1"), col("bucket"))
      .join(buckets.select(col("doc_id").as("id2"), col("bucket")),
        Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
    val pairs = cand
      .join(sigs.select(col("doc_id").as("id1"), col("sig").as("s1")),
        Seq("id1"))
      .join(sigs.select(col("doc_id").as("id2"), col("sig").as("s2")),
        Seq("id2"))
      .filter(agreement(col("s1"), col("s2")) >= minFrac)
      .select(col("id1").as("src"), col("id2").as("dst"))
    val labels = graft.graph.ConnectedComponents.labelCut(pairs)
    val reps = labels
      .filter(col("id") === col("component")).select(col("id"))
    val clustered = pairs.select(col("src")).union(pairs.select(col("dst")))
      .distinct().withColumnRenamed("src", "doc_id")
    val inBatchKept = docs.select(col("doc_id"))
      .join(clustered, Seq("doc_id"), "left_anti") // singletons
      .union(reps.withColumnRenamed("id", "doc_id"))

    // cross-batch: candidates from the bucket store, verified against
    // the signature store; both joins shuffle only batch-sized frames
    val history = BucketedStore.history(spark, _: Store)
    val crossDropped = history(bucketStore(outDir)) match {
      case Some(storeBk) =>
        val c = buckets.join(inBatchKept, Seq("doc_id"), "left_semi")
          .join(storeBk.select(col("bucket"),
            col("doc_id").as("store_id")), Seq("bucket"))
          .select(col("doc_id"), col("store_id")).distinct()
        val storeSigs = history(sigStore(outDir)).get
        c.join(sigs, Seq("doc_id"))
          .join(storeSigs.select(col("doc_id").as("store_id"),
            col("sig").as("store_sig")), Seq("store_id"))
          .filter(agreement(col("sig"), col("store_sig")) >= minFrac)
          .select(col("doc_id")).distinct()
      case None => spark.emptyDataFrame.withColumn("doc_id", lit(0L))
        .limit(0).select(col("doc_id"))
    }

    val (keptIds, n) = Snapshots.cutCounted(
      inBatchKept.join(crossDropped, Seq("doc_id"), "left_anti"),
      MEMORY_AND_DISK)
    Snapshots.release(labels) // its only reader, keptIds, is materialized
    if (n > 0) {
      docs.join(keptIds, Seq("doc_id"), "left_semi")
        .write.mode("append").parquet(s"$outDir/documents")
      BucketedStore.append(sigs.join(keptIds, Seq("doc_id"), "left_semi"),
        sigStore(outDir))
      BucketedStore.append(buckets.join(keptIds, Seq("doc_id"), "left_semi")
        .select(col("bucket"), col("doc_id")), bucketStore(outDir))
    }
    // the writes above are the last readers of the batch's cuts
    Seq(keptIds, buckets, sigs).foreach(Snapshots.release)
    n
  }

  /** File-drop streaming entry (replayable source + checkpoint →
    * restart-safe, [[FileDrop]]): each dropped file holds JSON lines
    * {"doc_id": …, "text": …}. AvailableNow drains and stops. */
  def runFiles(spark: SparkSession, inDir: String, outDir: String,
               checkpoint: String): StreamingQuery =
    FileDrop.drain(spark.readStream.schema("doc_id LONG, text STRING")
      .json(inDir), checkpoint) { (df, _) => writeBatch(df, outDir); () }
}
