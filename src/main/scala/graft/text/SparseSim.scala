package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Sparse count-vector cosine similarity join over documents via an
  * inverted index — the term-space twin of the dense embedding near-dup
  * (dedup/Dedup.embeddingNearDups) and the exact backbone behind
  * TF-IDF-style "similar documents" retrieval in a corpus pipeline.
  *
  * Plan shape (the classic sparse-similarity join): build per-doc term
  * counts, DROP the high-document-frequency head (df-cap — the terms
  * that would dominate posting-list self-join fan-out while carrying no
  * discriminative signal), self-join the surviving postings on term, and
  * re-group to per-pair dot products. Candidate work is Σ_term df² over
  * KEPT terms — the df cap bounds every posting list, so the pair
  * explosion a naive all-pairs cosine would hit at 100 TB is capped by
  * construction (same Σ|bucket|² sanction as LSH banding / SemanticDedup
  * cells). No dense vectors, no driver state, three hash shuffles
  * (doc-term, term, pair).
  *
  * Exactness: counts, dot products, and squared norms are integers, and
  * the cosine threshold num/den is applied by integer cross-
  * multiplication (den²·dot² ≥ num²·n1·n2 with dot ≥ 0) — bit-exact in
  * any engine, so the DuckDB oracle hash-matches (q115). Cosine here is
  * over the PRUNED term space (norms sum kept terms only), the standard
  * stopword-removed definition.
  */
object SparseSim {

  /** Pairs (id1, id2, dot, n1, n2) with cosine ≥ num/den over df-capped
    * term counts; id1 < id2. `maxDf` is an ABSOLUTE document-frequency
    * cap: keep terms appearing in ≤ maxDf documents. This is the scale
    * default — candidate pairs are bounded by Σ_kept df² ≤ maxDf²·|vocab|
    * regardless of corpus size, so the self-join cost does not grow with
    * N the way a relative (fraction-of-corpus) cap lets it (df ∝ N ⇒
    * Σdf² ∝ N², measured 55× wall for 10× data under the relative cap).
    * A term in more than a few hundred documents is a stopword for
    * pair-retrieval purposes at any corpus size. */
  def countCosinePairs(docs: DataFrame, maxDf: Int = 256,
                       num: Int = 3, den: Int = 5): DataFrame =
    pairsFromKept(keptAbsolute(termCounts(docs), maxDf), num, den)

  /** Relative-cap variant: keep terms whose document frequency is
    * ≤ maxDfPermille/1000 of the corpus (integer-exact). Appropriate for
    * small/bounded corpora where "common" is best defined relative to N;
    * NOT the 100 TB default — df ∝ N terms stay kept forever and the
    * posting-list self-join grows super-linearly. */
  def countCosinePairsRelative(docs: DataFrame, maxDfPermille: Int = 200,
                               num: Int = 3, den: Int = 5): DataFrame = {
    val tf = termCounts(docs)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val kept = tf
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * 1000 <= col("n_docs") * maxDfPermille)
      .select(col("doc_id"), col("term"), col("c"))
    pairsFromKept(kept, num, den)
  }

  /** Per-(doc, term) integer counts over normalized text. */
  private def termCounts(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"),
      explode(Dedup.tokens(col("text"))).as("term"))
    .groupBy(col("doc_id"), col("term"))
    .agg(count(lit(1)).as("c"))

  /** Drop postings whose term df exceeds the absolute cap. The df count
    * is a window over the term hash partition — one shuffle, reused by
    * the posting self-join on the same key. */
  private def keptAbsolute(tf: DataFrame, maxDf: Int): DataFrame = tf
    .withColumn("df", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
    .filter(col("df") <= maxDf)
    .select(col("doc_id"), col("term"), col("c"))

  private def pairsFromKept(kept: DataFrame, num: Int, den: Int): DataFrame = {
    // Each doc's squared norm rides its POSTINGS (a window over the
    // doc partition) instead of being aggregated separately and joined
    // back onto the pair results. The join-back form gave the kept
    // subtree THREE consumers (norms + the two renamed self-join
    // sides); at bench scale AQE's broadcast choices split them into
    // FIVE independent corpus scans/tokenizes (SCALE_AUDIT "q115
    // sparse-cosine — norms ride the postings") —
    // and at 100 TB the two post-agg norm joins are full pair-count
    // shuffles. With the norm on the posting, the self-join's two
    // branches are the ONLY consumers of kept and share one exchange
    // (ReusedExchange): the corpus is tokenized once, and the norm
    // filter needs no further join. The extra 8 bytes/posting through
    // the candidate shuffle collapse in the pair partial-agg (min of a
    // per-pair constant).
    val withNorm = kept.withColumn("nsq",
      sum(col("c") * col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
    val x = withNorm.select(col("doc_id"), col("term"), col("c"),
      col("nsq").as("xn"))
    val y = withNorm.select(col("doc_id").as("doc2"), col("term"),
      col("c").as("c2"), col("nsq").as("yn"))
    x.join(y, Seq("term"))
      .filter(col("doc_id") < col("doc2"))
      .groupBy(col("doc_id").as("id1"), col("doc2").as("id2"))
      .agg(sum(col("c") * col("c2")).as("dot"),
        min(col("xn")).as("n1"), min(col("yn")).as("n2"))
      .filter(col("dot") * col("dot") * (den.toLong * den)
        >= col("n1") * col("n2") * (num.toLong * num))
      .select(col("id1"), col("id2"), col("dot"), col("n1"), col("n2"))
  }
}
