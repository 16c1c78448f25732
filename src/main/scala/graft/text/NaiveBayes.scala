package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Multinomial naive-Bayes text classifier — the model-based filtering
  * stage of a large-scale training-data pipeline (the CCNet recipe
  * trains exactly this shape of linear model to separate a reference
  * corpus from crawl text, then keeps what scores "reference-like").
  *
  * Training emits integer sufficient statistics only — class-conditional
  * token counts plus per-class token/doc totals — so the learned model
  * reproduces bit-for-bit on any engine; all floating point is deferred
  * to scoring time.
  *
  * Laplace smoothing is fixed at α = 1, chosen so a term UNSEEN in a
  * class contributes ln(0 + 1) = 0 to that class's score. Scoring then
  * needs only an INNER join between document term frequencies and the
  * model — no dense (doc × class × vocab) grid ever materializes — and
  * the classify plan is three shuffles (tf by (doc, term), join by
  * term, regroup by (doc, class)) regardless of corpus size. The model
  * is vocab × classes rows, which at 100 TB is far past broadcast
  * range, so the term join is a plain shuffled join; only the
  * classes-sized total table and the two scalar aggregates ride
  * broadcast.
  */
object NaiveBayes {

  /** One row per token occurrence, normalized like the dedup family. */
  private def tokens(docs: DataFrame, labelCol: String): DataFrame =
    docs.select(col("doc_id"), col(labelCol).as("label"),
      explode(Dedup.tokens(col("text"))).as("term"))

  /** Train: class-conditional token counts with per-class totals.
    * Output — one row per (label, term) seen in training:
    * (label, term, cnt, class_tokens, class_docs). Integer-exact. */
  def train(docs: DataFrame, labelCol: String): DataFrame = {
    val termCounts = tokens(docs, labelCol)
      .groupBy(col("label"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    // derive per-class totals from the ALREADY-AGGREGATED frame, not a
    // second pass over the token stream: the (label, term) exchange is
    // reused and the corpus is tokenized exactly once
    val classTokens = termCounts.groupBy(col("label"))
      .agg(sum(col("cnt")).as("class_tokens"))
    val classDocs = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("class_docs"))
    termCounts
      .join(broadcast(classTokens), Seq("label"))
      .join(broadcast(classDocs), Seq("label"))
  }

  /** Classify every document against every class in the model and keep
    * the argmax (ties broken to the lexicographically smaller label).
    *
    * score(d, c) = ln class_docs_c − ln N_docs
    *             + Σ_t tf_{d,t} · ln(cnt_{c,t} + 1)
    *             − len_d · ln(class_tokens_c + V)
    *
    * with V = |training vocabulary|. The Σ term runs over the inner
    * join only (unseen terms contribute ln 1 = 0 by the α = 1 choice);
    * documents matching nothing in a class still score via the length
    * penalty, carried by a (doc × classes) frame built from the
    * classes-sized broadcast, never from the vocab.
    *
    * Output: (doc_id, pred_label, score_ppm) — score scaled to integer
    * parts-per-million, the repo convention for shipping doubles whose
    * last-ulp noise should not leak into downstream equality checks.
    */
  def classify(docs: DataFrame, model: DataFrame): DataFrame = {
    // materialize the model ONCE: it feeds four branches below (term
    // join, class stats, vocab size, doc total), and when `model` is the
    // un-materialized train() plan each branch re-inlines the whole
    // training subquery — a 23-shuffle / 14-scan plan that only AQE
    // exchange-reuse rescues at runtime. The model is vocab × classes
    // rows (bounded sufficient statistics, never corpus-sized), so one
    // eager localCheckpoint is the sanctioned model-sized
    // materialization and the audited plan drops to the three data
    // shuffles the scaladoc promises.
    val m = model.localCheckpoint()
    // the explicit isNotNull matters: tf feeds BOTH docLen and contrib,
    // and the contrib join used to push IsNotNull(doc_id) into ITS copy
    // of the scan only — canonically different subtrees, so neither
    // static ReuseExchange nor AQE reuse fired and the corpus was
    // TOKENIZED TWICE (measured: two concurrent full-explode stages at
    // sf10, 2 Generate nodes / 0 reuse in the plan — SCALE_AUDIT
    // "the normalize kernel").
    // Filtering here puts the same predicate on both branches; the
    // optimizer then collapses them into one exchange + ReusedExchange.
    val tf = docs
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        explode(Dedup.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

    val docLen = tf.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("doc_len"))

    // classes-sized and scalar model summaries — all broadcast.
    val classStats = m
      .select(col("label"), col("class_tokens"), col("class_docs"))
      .distinct()
    val vocabSize = m.select(col("term")).distinct()
      .agg(count(lit(1)).as("v"))
    val nDocs = classStats.agg(sum(col("class_docs")).as("n_docs"))

    // shuffle_hash on the MODEL side, for two reasons the planner gets
    // wrong on its own: (a) left to statistics it broadcast TF — the
    // corpus-sized side (measured at sf10: a 516-CPU-s hashed-relation
    // build of ~125 MB, the single hottest stage of q112); (b) with tf
    // on a plain shuffle, its exchange canonicalizes identical to the
    // docLen branch's, so AQE reuses ONE tokenize for both consumers —
    // the broadcast variant made the subtrees structurally different
    // and the corpus was tokenized twice.
    val contrib = tf
      .join(m.select(col("term"), col("label"), col("cnt"))
        .hint("shuffle_hash"),
        Seq("term"))
      .groupBy(col("doc_id"), col("label"))
      .agg(sum(col("tf").cast("double") *
        log(col("cnt").cast("double") + 1.0)).as("contrib"))

    val scored = docLen
      .crossJoin(broadcast(classStats))
      .crossJoin(broadcast(vocabSize))
      .crossJoin(broadcast(nDocs))
      .join(contrib, Seq("doc_id", "label"), "left")
      .select(col("doc_id"), col("label"),
        (log(col("class_docs").cast("double")) -
          log(col("n_docs").cast("double")) +
          coalesce(col("contrib"), lit(0.0)) -
          col("doc_len").cast("double") *
            log(col("class_tokens").cast("double") +
              col("v").cast("double"))).as("score"))

    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("label").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("label").as("pred_label"),
        round(col("score") * 1e6).cast("long").as("score_ppm"))
  }
}
