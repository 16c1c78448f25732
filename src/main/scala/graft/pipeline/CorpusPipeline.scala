package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.dedup.{Dedup, SemanticDedup, SubstringDedup}
import graft.graph.{ConnectedComponents, Snapshots}
import graft.text.{Bpe, NaiveBayes, TextAnalysis}

/** End-to-end training-corpus preparation — the composition proof that
  * the engine's operators chain into the pipeline a large pretraining
  * data build actually runs, with per-stage row AND token accounting
  * (the "funnel receipt" every data build publishes):
  *
  *   1. language filter        (TextAnalysis.langId, keep allowed langs)
  *   2. per-source quality gate (TrainingData.qualityGate on the
  *      composite quality score, worst tail dropped per source)
  *   3. exact dedup            (Dedup.exactDuplicates → keep canonicals)
  *   4. exact substring scrub  (SubstringDedup.dedupCorpus: duplicated
  *      k-gram spans removed keep-first; fully-boilerplate docs leave
  *      the corpus)
  *   4b. model-based classifier gate (NaiveBayes.classify on the
  *      SCRUBBED text — the text that ships is the text that's scored,
  *      the CCNet recipe's learned filter refining the heuristic gates;
  *      runs when a trained model + keep-label set is supplied)
  *   5. near-dup removal       (MinHash/LSH pairs → connected
  *      components → keep each cluster's min doc_id; skipped when
  *      `nearDupThreshold` ≤ 0 — the deterministic sub-chain is then
  *      SQL-oracle-able end to end, which is how q106 runs it)
  *   6. semantic dedup         (SemDeDup keep-first inside k-means
  *      cells, when an embedding table is supplied)
  *   7. benchmark-contamination drop (shared-5-gram docs removed)
  *   8. BPE merge learning on the survivor corpus (when `bpeMerges`
  *      > 0) — the tokenizer model trains on exactly the text that
  *      ships, not on what dedup later removes
  *
  * Plan shape (the part that matters at 100 TB): the CPU-heavy
  * per-row text features (language-ID, quality) are computed in ONE
  * pass and materialized NARROW — (doc_id, source, lang, q, ntok),
  * ~40 B/doc; every gate decision (per-source quality boundary +
  * filters) and the lang/quality funnel receipts derive from that
  * frame, the boundary broadcasting back per source so the corpus is
  * never shuffled by source (few strata would funnel the whole corpus
  * into #sources sort partitions). Survivors rejoin the corpus as a
  * doc_id semi-join (8 B keep-ids — broadcast until the keep set
  * outgrows the threshold, then one corpus shuffle). Exact dedup is
  * one window over the content hash (one well-distributed full
  * shuffle — cheaper than groupBy + join-back, which pays the same
  * shuffle AND a join). The r8 shape instead recomputed the feature
  * lambdas twice (boundary subplan + main gate) to keep the corpus
  * un-joined — measured cheaper at sf0.1, but the duplicated feature
  * pass carried 77% of the funnel at sf10 (SCALE_AUDIT "funnel
  * per-stage attribution": 173.8 → 100.8 s from this change, results
  * hash-identical). Later-stage accounting rides each stage's own
  * materialization as `observe` (CollectMetrics) nodes — zero extra
  * passes. Only the inherently pair-based stages (substring scrub,
  * near-dup, semantic, decontaminate) join, each fed from an eagerly
  * checkpointed predecessor so shared lineage materializes once.
  */
object CorpusPipeline {

  /** `tokens` = Σ whitespace tokens of `text` at this stage (0 for an
    * empty text), so scrub accounting closes: tokens(exact_dedup) −
    * tokens(substring_scrub) = Σ n_removed, asserted in
    * CorpusPipelineSpec. */
  final case class StageCount(stage: String, rows: Long, tokens: Long)

  /** @param bpeModel (rank, left, right, pair_count) merge list learned
    *   on the final corpus — present iff `bpeMerges` > 0 */
  final case class Prepared(docs: DataFrame, funnel: Seq[StageCount],
                            bpeModel: Option[DataFrame])

  /** @param docs      (doc_id, text, source, ...) corpus
    * @param benchmark (doc_id, text) eval sets to decontaminate against
    * @param langs     allowed predicted languages
    * @param minQualityPercentile per-source quality floor (0.0–1.0)
    * @param nearDupThreshold Jaccard threshold for near-dup clustering;
    *   ≤ 0 skips the stage (deterministic sub-chain)
    * @param scrubK    duplicated-span length for the substring scrub
    * @param embeddings optional (doc_id, embedding) table enabling the
    *   semantic-dedup stage
    * @param bpeMerges  > 0 trains that many BPE merges on the survivors
    * @param classifier optional (NaiveBayes model, keep pred labels)
    *   enabling the model-based gate on the scrubbed text
    * @return survivors (original columns, text scrubbed), funnel, and
    *   the optional BPE model */
  def prepare(docs: DataFrame, benchmark: DataFrame, langs: Seq[String],
              minQualityPercentile: Double, nearDupThreshold: Double,
              scrubK: Int = 8, embeddings: Option[DataFrame] = None,
              semanticClusters: Int = 8, semanticThreshold: Double = 0.95,
              bpeMerges: Int = 0,
              classifier: Option[(DataFrame, Seq[String])] = None,
              segmentDedupW: Int = 0, domainBudget: Long = 0)
      : Prepared = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val funnel = scala.collection.mutable.ArrayBuffer.empty[StageCount]
    def ntok = when(col("text") === "", 0)
      .otherwise(size(split(col("text"), " "))).cast("long")
    def total(c: Column) = coalesce(sum(c), lit(0L))
    def cnt = count(lit(1)).as("n")
    // every stage's materialization runs under a job description
    // ("funnel:<stage>") so a listener (tools/FunnelProfile) can
    // attribute wall time to stages without guessing from job ids
    def describing[T](name: String)(body: => T): T = {
      val sc = docs.sparkSession.sparkContext
      sc.setJobDescription(s"funnel:$name")
      try body finally sc.setJobDescription(null)
    }
    // one corpus stage: the survivors are cut with their receipt (rows
    // + Σ tokens) observed in the same job — accounting costs zero
    // extra passes — then the superseded cuts are retired so
    // full-corpus copies don't pin executor storage
    def stage(name: String, retire: DataFrame*)(df: DataFrame): DataFrame = {
      val c = describing(name)(Snapshots.cutObserved(df, MEMORY_AND_DISK,
        cnt, total(ntok).as("tok")))
      funnel += StageCount(name, c.long("n"), c.long("tok"))
      retire.foreach(Snapshots.release)
      c.ds
    }
    // the input is NOT copied aside: its lineage (normally a pruned
    // parquet scan) is read by both the main chain and the
    // quality-boundary subplan — two column-pruned scans are cheaper
    // than replicating the corpus into executor storage, at sf0.1 and
    // at 100 TB alike (measured: the lazy-localCheckpoint copy cost
    // more than the re-scan it saved). Callers whose input lineage is
    // itself expensive should pass a checkpointed frame.
    val input = docs
    val cols = docs.columns.map(col).toSeq

    // ONE text-feature pass (the r10 fix for the sf10 finding that the
    // gate stage carried 77% of the funnel): langId + quality are the
    // CPU-heavy per-row lambdas, and the r8 shape computed them TWICE —
    // once in the boundary subplan, once in the main gate filter ("two
    // pruned scans beat caching the corpus", measured at sf0.1 where
    // the lambdas are cheap; at sf10 the duplicated pass dominated,
    // SCALE_AUDIT "funnel per-stage attribution"). Now the features
    // materialize NARROW — (doc_id, source, lang, q, ntok) ≈ 40 B/doc,
    // model-ish-sized, NOT the corpus — and every gate decision plus
    // the lang/quality funnel receipts derive from that frame; the
    // corpus is touched exactly twice (feature pass, final gate+dedup
    // pass) with zero per-row lambda recompute. The survivors rejoin
    // as a doc_id semi-join: keep-ids are 8 B/doc and broadcast until
    // the keep set outgrows the threshold, after which Spark falls
    // back to shuffling the corpus once by doc_id — the honest trade
    // against the old zero-shuffle-double-compute form, which the
    // sf10 measurement decided (173.8 → see SCALE_AUDIT).
    val qw = Window.partitionBy(col("source"))
      .orderBy(col("__q"), col("doc_id"))
    val cw = Window.partitionBy(col("source"))
    // one split + one fold for lang AND quality (TextAnalysis
    // .gateFeatures — 50.4 → 29.9 s at sf10, values bit-identical to
    // the separate langIdCols/qualityCol trees; SCALE_AUDIT
    // "gate-features as a codegen expression")
    val langIn = col("__lang").isin(langs: _*)
    // the input and lang_filter receipts ride the feature cut
    val feat = {
      val c = describing("gates_features")(Snapshots.cutObserved(
        TextAnalysis.gateFeatures(input).select(col("doc_id"),
          col("source"), col("__lang"), col("__q"), ntok.as("__ntok")),
        MEMORY_AND_DISK, cnt, total(col("__ntok")).as("tok"),
        count(when(langIn, 1)).as("lang_n"),
        total(when(langIn, col("__ntok"))).as("lang_tok")))
      funnel += StageCount("input", c.long("n"), c.long("tok"))
      funnel += StageCount("lang_filter", c.long("lang_n"), c.long("lang_tok"))
      c.ds
    }
    val langOk = feat.filter(langIn)
    // same boundary semantics as before: smallest kept (quality,
    // doc_id) struct per source; single-row strata keep their row
    val thresholds = langOk
      .select(col("doc_id"), col("source"), col("__q"))
      .withColumn("__pr", percent_rank().over(qw))
      .withColumn("__n", count(lit(1)).over(cw))
      .filter(col("__pr") >= minQualityPercentile || col("__n") === 1)
      .groupBy(col("source"))
      .agg(min(struct(col("__q"), col("doc_id"))).as("__thr"))
    // the quality_gate receipt rides the keep-id cut
    val keepIds = {
      val c = describing("gates_boundary")(Snapshots.cutObserved(
        langOk
          .join(broadcast(thresholds), Seq("source"))
          .filter(struct(col("__q"), col("doc_id")) >= col("__thr"))
          .select(col("doc_id"), col("__ntok")),
        MEMORY_AND_DISK, cnt, total(col("__ntok")).as("tok")))
      funnel += StageCount("quality_gate", c.long("n"), c.long("tok"))
      c.ds
    }

    val hw = Window.partitionBy(col("__ch"))
    val exactKept = stage("exact_dedup", feat, keepIds)(input
      .join(keepIds.select(col("doc_id")), Seq("doc_id"), "left_semi")
      // exact dedup: keep each content-hash group's min doc_id — one
      // window over one well-distributed shuffle, no join-back
      // xxhash64, not md5-hash60: pure grouping currency (the oracle
      // partitions by the raw normalized string, never sees the hash)
      .withColumn("__ch", xxhash64(Dedup.normalize(col("text"))))
      .withColumn("__keep", min(col("doc_id")).over(hw))
      .filter(col("doc_id") === col("__keep"))
      .select(cols: _*))

    // duplicated k-gram spans removed keep-first; scrubDocs carries the
    // doc's remaining columns through its internal rebuild join, so the
    // stage is ONE pass — no second corpus-wide join-back on doc_id.
    // Fully-covered (now empty) docs leave the corpus
    val scrubKept = stage("substring_scrub", exactKept)(SubstringDedup
      .scrubDocs(exactKept, scrubK)
      .filter(col("text") =!= "")
      .select(cols: _*))

    // segment-level dedup (C4/CCNet paragraph shape): aligned w-word
    // windows deduplicated corpus-wide keep-first, documents rebuilt
    // from their surviving segments; fully-boilerplate docs leave.
    // Complementary to the scrub above: the scrub removes ANY-alignment
    // duplicated k-gram spans, this collapses whole repeated segments
    // and re-emits a text corpus for the later text-reading stages.
    val afterSeg =
      if (segmentDedupW <= 0) scrubKept
      else {
        val segd = graft.dedup.ParagraphDedup
          .dedupSegments(scrubKept, segmentDedupW)
          .select(col("doc_id"),
            col("text_dedup").as("text"))
        stage("segment_dedup", scrubKept)(scrubKept.drop("text")
          .join(segd, Seq("doc_id"))
          .select(cols: _*))
      }

    // model-based gate on the text that ships: docs whose argmax class
    // is outside the keep set leave the corpus. One classify pass
    // (tf → model join → regroup); the semi join back is on doc_id.
    val afterClf = classifier match {
      case None => afterSeg
      case Some((model, keep)) =>
        val passing = NaiveBayes.classify(afterSeg, model)
          .filter(col("pred_label").isin(keep: _*))
          .select(col("doc_id"))
        stage("classifier_gate", afterSeg)(
          afterSeg.join(passing, Seq("doc_id"), "left_semi"))
    }

    val afterNear =
      if (nearDupThreshold <= 0) afterClf
      else {
        val pairs = Dedup
          .minhashDuplicatePairs(afterClf, nearDupThreshold)
          .select(col("id1").as("src"), col("id2").as("dst"))
        val dropNear = ConnectedComponents.run(pairs)
          .filter(col("id") =!= col("component")) // keep cluster's min
          .select(col("id").as("doc_id"))
        stage("near_dedup", afterClf)(
          afterClf.join(dropNear, Seq("doc_id"), "left_anti"))
      }

    val afterSemantic = embeddings match {
      case None => afterNear
      case Some(emb) =>
        val sem = SemanticDedup.semanticDedup(
          emb.join(afterNear.select(col("doc_id")), Seq("doc_id"),
            "left_semi")
            .select(col("doc_id").as("vec_id"), col("embedding")),
          semanticClusters, semanticThreshold)
        val drop = sem.filter(!col("kept"))
          .select(col("vec_id").as("doc_id"))
        stage("semantic_dedup", afterNear)(
          afterNear.join(drop, Seq("doc_id"), "left_anti"))
    }

    val contaminated = TrainingData.contamination(afterSemantic, benchmark)
      .select(col("doc_id"))
    val cleanKept = stage("decontaminate", afterSemantic)(
      afterSemantic.join(contaminated, Seq("doc_id"), "left_anti"))

    // per-source token budget (RefinedWeb-style balancing) as the LAST
    // gate: budgets are spent on exactly the text that ships, with the
    // original n_chars as the keep priority (longest first)
    val afterCap =
      if (domainBudget <= 0) cleanKept
      else {
        val keepIds = DomainBalance
          .capByTokenBudget(cleanKept, domainBudget)
          .select(col("doc_id"))
        stage("domain_cap", cleanKept)(
          cleanKept.join(keepIds, Seq("doc_id"), "left_semi"))
      }

    // tokenizer training on exactly the corpus that ships
    val model =
      if (bpeMerges <= 0) None
      else Some(describing("bpe_train")(Bpe.learnMergesBatched(
        afterCap.select(col("text")), bpeMerges)))

    Prepared(afterCap, funnel.toSeq, model)
  }
}
