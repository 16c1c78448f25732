package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import graft.graph.Snapshots
import graft.io.{BucketedStore, Fs}
import graft.io.BucketedStore.{Store, StoreLayout}
import graft.streaming.FileDrop
import graft.sim.Similarity

/** Incremental semantic dedup at ingest — the streaming form of
  * [[graft.dedup.SemanticDedup.semanticDedup]], completing the ingest
  * family (exact hash → DedupIngestJob, MinHash/LSH → NearDupIngestJob,
  * k-gram scrub → SubstringIngestJob, embedding space → here): each
  * arriving micro-batch of vectors is assigned to the FROZEN k-means
  * cells, compared against (1) the persisted per-cell vector store and
  * (2) itself (within-batch keep-first), and appended with its verdict
  * — the corpus history is never re-scored.
  *
  * Semantics: a vector's `dup_of` is the smallest same-cell vec_id at
  * cosine ≥ threshold, over EVERYTHING ingested so far. Note the
  * dominator needn't itself be kept (exactly the batch operator's
  * contract), which is why the store holds ALL ingested vectors, not
  * just survivors — dropping dropped vectors from the store would
  * silently weaken the verdict for later arrivals whose only dominator
  * was itself a duplicate. With doc ids increasing across batches (the
  * append-only ingest contract), the accumulated verdicts are
  * row-identical to [[graft.dedup.SemanticDedup.semanticDedupWithModel]]
  * over the concatenated corpus with the same model — pinned in
  * SemanticIngestSpec.
  *
  * Persisted structures under `outDir`:
  *  - `model`: the centroid vectors (cell, centroid), written once by
  *    the first batch (trained on it) and FROZEN — assignment must stay
  *    stable or history blocking breaks. Model-sized; read via a
  *    driver collect like every centroid model here.
  *  - `vectors`: (vec_id, cell, v, dup_of, kept) — an external table
  *    bucketed on cell, so the per-batch history join shuffles only
  *    the incoming batch into the store's layout (bucketing on `cell`
  *    co-partitions the (cell, …) joins; the store is never
  *    re-shuffled — same story as the other ingest stores). At 100 TB
  *    the per-cell scan is the cost driver: raise `clusters` so cells
  *    stay executor-sized, exactly as in the batch operator.
  *
  * Exactly-once: a replayed batch's vec_ids are already in `vectors`
  * (the (cell, vec_id) anti-join is bucket-aligned), so nothing
  * re-appends — idempotent under source replay.
  */
object SemanticIngestJob {

  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger(getClass)

  /** Target max store rows per cell when sizing the model at freeze.
    * Per-batch history cost is O(batch × store/cells) BY CONTRACT (the
    * per-cell scan), so the cell count — frozen forever at the first
    * batch — is the one lever that keeps ingest flat: the r11
    * IngestThroughputBench measured a 27× per-batch slope difference
    * between 8 and 64 cells over a 200k-vector corpus. 4096 sits well
    * under that measured knee (200k/64 ≈ 3.1k/cell was flat). */
  private def cellBudget(spark: SparkSession): Long =
    spark.conf.get("spark.graft.semantic.cellBudget", "4096").toLong

  /** The cluster count actually frozen: the caller's floor, raised so
    * the expected corpus stays within [[cellBudget]] rows/cell
    * (capped at 4096 cells — the centroid model is a driver collect
    * and must stay model-sized). */
  private[graft] def sizedClusters(requested: Int, expectedCorpus: Long,
                                   budget: Long): Int =
    if (expectedCorpus <= 0) requested
    else math.max(requested,
      math.min(4096L, (expectedCorpus + budget - 1) / budget).toInt)

  /** (vec_id, cell, v, dup_of, kept) per ingested vector, bucketed on
    * cell (sorted by cell, vec_id) so the per-batch history join keeps
    * its store-side co-location. */
  def vectorStore(outDir: String): Store = Store(s"$outDir/vectors",
    StoreLayout(BucketedStore.Buckets, "cell", Seq("cell", "vec_id")))

  /** The frozen model, or None before the first batch. */
  private[graft] def loadModel(spark: SparkSession,
                               outDir: String): Option[Seq[Seq[Double]]] = {
    val path = s"$outDir/model"
    if (!Fs.pathExists(spark, path)) None
    else Some(spark.read.parquet(path)
      .orderBy(col("cell"))
      .collect().map(_.getSeq[Double](1)).toSeq)
  }

  private def saveModel(spark: SparkSession, outDir: String,
                        model: Seq[Seq[Double]]): Unit = {
    import spark.implicits._
    model.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/model")
  }

  /** Batch core, shared by streaming foreachBatch and tests.
    * `vectors`: (vec_id, embedding). The first batch trains and
    * freezes the model (`clusters`/`iters` are ignored afterwards).
    *
    * SIZE THE MODEL AT FREEZE: pass `expectedCorpus` (how many vectors
    * this store will ever hold) on the first batch and the cell count
    * is raised to keep store/cells within the measured flat regime
    * ([[cellBudget]]); freezing a small fixed cell count for an
    * unbounded corpus makes every future batch linearly slower — the
    * measured foot-gun the warnings below name.
    * @return number of new vectors appended */
  def writeBatch(vectors: DataFrame, outDir: String, clusters: Int,
                 threshold: Double, iters: Int = 8,
                 expectedCorpus: Long = -1L): Long = {
    val spark = vectors.sparkSession
    val budget = cellBudget(spark)
    val model = loadModel(spark, outDir).getOrElse {
      val k = sizedClusters(clusters, expectedCorpus, budget)
      if (expectedCorpus <= 0)
        log.warn(s"semantic ingest model frozen at $clusters cells " +
          "with no expectedCorpus hint — per-batch history cost is " +
          "O(batch × store/cells) by contract (measured: 27× slope " +
          "difference between 8 and 64 cells at 200k vectors); pass " +
          "expectedCorpus on the first batch or set " +
          "spark.graft.semantic.cellBudget")
      else if (expectedCorpus > 4096L * budget)
        log.warn(s"semantic ingest model frozen at $k cells: the " +
          s"4096-cell cap binds for expectedCorpus=$expectedCorpus " +
          s"(needs ${(expectedCorpus + budget - 1) / budget} cells at " +
          s"$budget rows/cell) — per-cell row count will exceed the " +
          "budget as the store fills; raise " +
          "spark.graft.semantic.cellBudget or shard the store by " +
          "corpus slice")
      val m = Similarity.kmeansCentroids(vectors, k, iters)
      saveModel(spark, outDir, m)
      m
    }
    val e = vectors
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("cell", Similarity.nearestCell(col("v"), model))
    val store = BucketedStore.history(spark, vectorStore(outDir))
    // past-the-knee tripwire: count-star over the bucketed parquet
    // store is footer-only (noise next to the full-store history join
    // below), and a store that outgrew its frozen cell count is a
    // per-batch linear cost the caller must not discover from a graph
    store.foreach { s =>
      val perCell = s.count() / math.max(1, model.size)
      if (perCell > 2 * budget)
        log.warn(s"semantic store at $outDir holds ~$perCell " +
          s"vectors/cell over ${model.size} frozen cells — past the " +
          s"measured flat-ingest knee (budget $budget/cell); history " +
          "scoring now dominates each batch. Re-freeze into a fresh " +
          "outDir with more cells (or a larger cellBudget at freeze).")
    }
    // replay guard: cells are a pure function of the frozen model, so
    // a replayed vector lands in the same cell and the anti-join is
    // bucket-aligned (only the batch side shuffles)
    val fresh0 = store match {
      case Some(s) => e.join(s.select(col("cell"), col("vec_id")),
        Seq("cell", "vec_id"), "left_anti")
      case None => e
    }
    val (fresh, n) = Snapshots.cutCounted(fresh0, MEMORY_AND_DISK)
    try {
      // dominators already ingested: smallest same-cell store id within
      // threshold (the id filter matters only for non-monotonic ingest
      // orders — it can never produce a false drop)
      val histDom = store match {
        case Some(s) =>
          fresh.join(s.select(col("cell"), col("vec_id").as("id_small"),
            col("v").as("v1")), Seq("cell"))
            .filter(col("id_small") < col("vec_id"))
            .filter(Similarity.cosine(col("v1"), col("v")) >= threshold)
            .groupBy(col("vec_id")).agg(min(col("id_small")).as("dup_hist"))
        case None =>
          fresh.select(col("vec_id"), lit(null).cast("long").as("dup_hist"))
            .limit(0)
      }
      // within-batch keep-first, blocked by cell — the batch operator's
      // own pair shape
      val inDom = fresh
        .select(col("cell"), col("vec_id").as("id_small"), col("v").as("v1"))
        .join(fresh.select(col("cell"), col("vec_id"), col("v").as("v2")),
          Seq("cell"))
        .filter(col("id_small") < col("vec_id"))
        .filter(Similarity.cosine(col("v1"), col("v2")) >= threshold)
        .groupBy(col("vec_id")).agg(min(col("id_small")).as("dup_batch"))
      val verdict = fresh
        .join(histDom, Seq("vec_id"), "left")
        .join(inDom, Seq("vec_id"), "left")
        .withColumn("dup_of", least(col("dup_hist"), col("dup_batch")))
        .select(col("vec_id"), col("cell"), col("v"), col("dup_of"),
          col("dup_of").isNull.as("kept"))
      if (n > 0)
        BucketedStore.append(verdict, vectorStore(outDir))
      n
    } finally Snapshots.release(fresh)
  }

  /** File-drop streaming entry (replayable source + checkpoint →
    * restart-safe, [[FileDrop]]): each dropped file holds JSON lines
    * {"vec_id": …, "embedding": [...]}. AvailableNow drains and stops. */
  def runFiles(spark: SparkSession, inDir: String, outDir: String,
               checkpoint: String, clusters: Int,
               threshold: Double,
               expectedCorpus: Long = -1L): StreamingQuery =
    FileDrop.drain(spark.readStream
      .schema("vec_id LONG, embedding ARRAY<DOUBLE>").json(inDir),
      checkpoint) { (df, _) =>
      writeBatch(df, outDir, clusters, threshold,
        expectedCorpus = expectedCorpus); ()
    }
}
