package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Text-analysis operators for training-data pipelines (BASELINE.json
  * north star): token counting, quality scoring, language-ID heuristic,
  * document fingerprinting. All pure column expressions (codegen'd,
  * per-row — embarrassingly parallel at any scale).
  */
object TextAnalysis {

  /** Whitespace token count + a BPE-ish subword count (runs of letters,
    * runs of digits, or single non-space symbols — the units a byte-pair
    * tokenizer would start from). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_words"),
      size(expr(
        "regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)"))
        .cast("long").as("n_subwords"),
      length(col("text")).cast("long").as("n_chars"))

  private val Stopwords =
    Seq("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")

  /** The [[qualityScore]] blend as ONE column over raw `text` — the
    * same expression tree (so bit-identical doubles) for callers that
    * fuse the quality gate into a wider plan instead of joining the
    * scored frame back (graft.pipeline.CorpusPipeline). */
  private[graft] def qualityCol(text: Column): Column = {
    val words = split(trim(lower(text)), "\\s+")
    val nWords = size(words).cast("double")
    val stopHits = size(filter(words,
      w => Stopwords.map(s => w === s).reduce(_ || _))).cast("double")
    val alpha = length(regexp_replace(text, "[^A-Za-z]", ""))
      .cast("double")
    least(lit(1.0),
      ((stopHits / nWords) * 2.0 + alpha / length(text).cast("double"))
        / 2.0)
  }

  /** One-pass gate features for the corpus funnel: appends `__lang`
    * (the [[langIdCols]] prediction) and `__q` (the [[qualityCol]]
    * blend) from ONE [[graft.functions.GateCounts]] scan per document —
    * a codegen'd Catalyst expression computing every marker count, the
    * token count, and the alpha count in a single straight-line pass.
    * Round-10's fused `aggregate` fold already computed one split
    * instead of five, but higher-order functions are CodegenFallback
    * (interpreted, one lambda frame per token) and the fold was still
    * 40% of the sf10 funnel; the expression is the
    * [[graft.functions.VectorExpressions]] treatment applied to text.
    * Values are IDENTICAL to the separate columns: counts are exact
    * integers from the same tokenization (the expression calls the
    * same UTF8String lower/trim and Java-regex split the built-ins
    * delegate to) and the quality blend applies the same double ops in
    * the same order (0 mismatches at sf0.1/sf10, SCALE_AUDIT
    * "gate-features as a codegen expression").
    *
    * Structured as chained projections ON PURPOSE: the scan lands in
    * its own column that later projections reference several times —
    * CollapseProject refuses to merge a projection whose non-cheap
    * expressions would duplicate, so the scan runs once per row no
    * matter how many features read it. */
  private[graft] def gateFeatures(df: DataFrame): DataFrame = {
    val langs = LangProfiles.groupBy(_._1).view
      .mapValues(_.map(_._2)).toSeq.sortBy(_._1)
    val nSlots = langs.size + 1 // one per language + stopword slot
    // counts layout: [lang hits…, stopword hits, n_tokens, n_alpha]
    val counts = graft.functions.TextFunctions.gate_counts(col("text"),
      langs.map(_._2) :+ Stopwords)
    val entries = langs.zipWithIndex.map { case ((lang, _), i) =>
      struct((lit(0L) - element_at(col("__gf_c"), i + 1)).as("neg"),
        lit(lang).as("lang"))
    }
    val best = array_min(array(entries: _*))
    val stopHits = element_at(col("__gf_c"), nSlots).cast("double")
    val nWords = element_at(col("__gf_c"), nSlots + 1).cast("double")
    val alpha = element_at(col("__gf_c"), nSlots + 2).cast("double")
    df.withColumn("__gf_c", counts)
      .withColumn("__lang",
        when(best.getField("neg") === 0L, lit("und"))
          .otherwise(best.getField("lang")))
      .withColumn("__q", least(lit(1.0),
        ((stopHits / nWords) * 2.0
          + alpha / length(col("text")).cast("double")) / 2.0))
      .drop("__gf_c")
  }

  /** Quality heuristics: mean word length, stopword ratio, alpha ratio,
    * and a blended [0,1] score. Division is IEEE-deterministic; the
    * oracle replicates the exact expression tree (and [[qualityCol]]
    * inlines the same tree — keep them in lockstep). */
  def qualityScore(docs: DataFrame): DataFrame = {
    val words = split(trim(lower(col("text"))), "\\s+")
    val nWords = size(words).cast("double")
    val stopHits = size(filter(words,
      w => Stopwords.map(s => w === s).reduce(_ || _))).cast("double")
    val alpha = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
      .cast("double")
    docs.select(
      col("doc_id"),
      nWords.as("n_words"),
      (length(col("text")).cast("double") / nWords).as("mean_word_len"),
      (stopHits / nWords).as("stopword_ratio"),
      (alpha / length(col("text")).cast("double")).as("alpha_ratio"))
      .withColumn("quality",
        least(lit(1.0), (col("stopword_ratio") * 2.0 + col("alpha_ratio"))
          / 2.0))
  }

  /** Language-ID by stopword-profile hits: tiny per-language marker
    * lists; predicted = argmax hit count (ties → lexicographic lang). */
  val LangProfiles: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "and", "en" -> "of",
    "es" -> "el", "es" -> "la", "es" -> "de",
    "de" -> "der", "de" -> "und", "de" -> "das",
    "fr" -> "le", "fr" -> "et", "fr" -> "les")

  /** (pred_lang, hits) columns over raw `text`, entirely ROW-LOCAL:
    * with a fixed small profile, each language's hit count is an array
    * `filter` over the doc's own tokens (every matching occurrence
    * counts, like the join form would) and the argmax is an `array_min`
    * over (−hits, lang) structs — max hits, ties to the smaller lang,
    * "und" when nothing matches. A pure projection rides the scan with
    * ZERO exchanges at any corpus size; the equivalent
    * explode + profile-join + per-doc-window plan pays three. */
  private[graft] def langIdCols(text: Column): (Column, Column) = {
    val words = split(trim(lower(text)), "\\s+")
    val entries = LangProfiles.groupBy(_._1).view
      .mapValues(_.map(_._2)).toSeq.sortBy(_._1)
      .map { case (lang, markers) =>
        val hits = size(filter(words,
          w => markers.map(m => w === m).reduce(_ || _))).cast("long")
        struct((lit(0L) - hits).as("neg"), lit(lang).as("lang"))
      }
    val best = array_min(array(entries: _*))
    (when(best.getField("neg") === 0L, lit("und"))
       .otherwise(best.getField("lang")),
     lit(0L) - best.getField("neg"))
  }

  def langId(docs: DataFrame): DataFrame = {
    val (pred, hits) = langIdCols(col("text"))
    docs.select(col("doc_id"), pred.as("pred_lang"), hits.as("hits"))
  }

  /** Content fingerprint: md5 of the normalized text — the join/dedup key
    * form. 60-bit numeric twin alongside for bucketing. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(Dedup.normalize(col("text"))).as("fp_md5"),
      Dedup.hash60(Dedup.normalize(col("text"))).as("fp60"))

  /** Per-(doc, term) term frequencies + corpus document frequencies —
    * the integer-exact core of TF-IDF. doc_len and df ride WINDOWS over
    * the tf frame (partition by doc_id, then by term) instead of
    * groupBy + join-back: the old shape re-derived the token explode
    * and the tf aggregate once per join side (three token passes,
    * ~6 exchanges); the windows reuse one tf computation across three
    * exchanges total (q45 sf10: 59.2 → see SCALE_AUDIT). */
  def termStats(docs: DataFrame): DataFrame = {
    val tokens = docs.select(col("doc_id"),
      explode(Dedup.tokens(col("text"))).as("term"))
    tokens.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("doc_len", sum(col("tf")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
  }

  /** TF-IDF scores: (tf/doc_len) · ln((N+1)/(df+1)). The log makes the
    * score float-library-dependent, so oracle comparisons should use
    * [[termStats]]'s integer columns; this is the serving form. */
  def tfIdf(docs: DataFrame): DataFrame = {
    val n = docs.count()
    termStats(docs).withColumn("tfidf",
      col("tf").cast("double") / col("doc_len").cast("double") *
        log(lit(n + 1.0) / (col("df").cast("double") + 1.0)))
  }

  /** Intra-document repetition metrics (the Gopher-style repetition
    * filters, adapted to newline-free corpora): per doc the word count,
    * distinct-word count, most-frequent-word count and most-frequent-
    * bigram count, plus parts-per-million fractions kept integer-exact
    * (scaled `div`, no floats) so the same numbers reproduce on any
    * engine. High `top_bigram_ppm` → boilerplate/auto-generated text.
    *
    * Plan: one explode over words and one over bigrams, each aggregated
    * with map-side partial counts on (doc_id, gram) then per-doc max —
    * two shuffle rounds keyed by doc, no per-doc state larger than a
    * counter, linear at any corpus size. The bigram array is built
    * positionally (`transform` over indices), no self-join. */
  def repetition(docs: DataFrame): DataFrame = {
    // materialize the token array in its own projection BEFORE the
    // bigram lambda reads it (the Vocab.growthCurve rule): a free
    // column reference inside a higher-order function re-evaluates its
    // whole expression tree per element, so the inline form re-ran
    // split(normalize(text)) for every element_at — O(tokens²) regex
    // work per doc (measured 24 s → ~2 s on the sf0.1 table; hidden
    // pre-round-8 by count()-pruning of the bigram branch)
    val ws = col("ws")
    val toks = docs.select(col("doc_id"),
      Dedup.tokens(col("text")).as("ws"))
    // every statistic is PER-DOC, so none of them needs a shuffle:
    // sort the doc's tokens (and bigram strings) in-row and fold the
    // sorted runs — distinct count = run starts, mode count = longest
    // run. The previous form exploded words AND bigrams through two
    // (doc_id, gram) exchanges and joined two doc-keyed aggregates
    // back together: four exchanges + a join for a row-local answer
    // (q80 sf1 13.7 → see SCALE_AUDIT). Per-row memory is one sorted
    // copy of the doc's tokens — bounded by doc length, the same class
    // as the split itself.
    def runStats(arr: String) = expr(
      s"""aggregate($arr,
         |  struct(CAST(NULL AS STRING) AS prev, CAST(0 AS BIGINT) AS run,
         |         CAST(0 AS BIGINT) AS best, CAST(0 AS BIGINT) AS nd),
         |  (acc, x) -> struct(
         |    x,
         |    CASE WHEN x <=> acc.prev THEN acc.run + 1
         |         ELSE CAST(1 AS BIGINT) END,
         |    greatest(acc.best,
         |      CASE WHEN x <=> acc.prev THEN acc.run + 1
         |           ELSE CAST(1 AS BIGINT) END),
         |    acc.nd + CASE WHEN x <=> acc.prev THEN CAST(0 AS BIGINT)
         |                  ELSE CAST(1 AS BIGINT) END),
         |  acc -> struct(acc.best AS best, acc.nd AS nd))""".stripMargin)
    toks
      .withColumn("__wr", runStats("array_sort(ws)"))
      // guard: sequence(0, -1) DESCENDS for 1-token docs and would
      // feed element_at an illegal 0 index — empty array instead
      .withColumn("__br", runStats(
        "CASE WHEN size(ws) >= 2 THEN " +
          "array_sort(transform(sequence(0, size(ws) - 2), " +
          "i -> concat_ws(' ', element_at(ws, i + 1), " +
          "element_at(ws, i + 2)))) " +
          "ELSE CAST(array() AS array<string>) END"))
      .select(col("doc_id"),
        size(ws).cast("long").as("n_words"),
        col("__wr.nd").as("n_distinct_words"),
        col("__wr.best").as("top_word_n"),
        when(size(ws) >= 2, col("__br.best")).otherwise(0L)
          .as("top_bigram_n"))
      .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
        col("top_word_n"), col("top_bigram_n"),
        // `div` (IntegralDivide), not `/` — long-exact in every engine
        expr("((n_words - n_distinct_words) * 1000000) div n_words")
          .as("dup_word_ppm"),
        expr("(top_bigram_n * 1000000) div greatest(n_words - 1, 1)")
          .as("top_bigram_ppm"))
  }

  /** Bounded inverted index: per term its exact document frequency and
    * the first `cap` doc ids as a comma-joined posting string. The cap
    * is the 100 TB guard — a stop-word's full posting list is O(corpus)
    * and must never pass through one `collect_list` buffer, so postings
    * are truncated with a rank window BEFORE collection while `df_docs`
    * stays exact from a separate count. Both aggregations share the
    * shuffle key (term). */
  def invertedIndex(docs: DataFrame, cap: Int = 1000): DataFrame = {
    val terms = docs.select(col("doc_id"),
      explode(array_distinct(Dedup.tokens(col("text"))))
        .as("term"))
    val dfExact = terms.groupBy(col("term"))
      .agg(count(lit(1)).as("df_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("doc_id").asc)
    val capped = terms.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .groupBy(col("term"))
      .agg(array_join(sort_array(collect_list(col("doc_id"))), ",")
        .as("postings"))
    dfExact.join(capped, Seq("term"))
  }

  /** Rolling polynomial hash over the word stream (base-31 mod 2^31−1),
    * the classic streaming fingerprint: fold over the token array —
    * sequential, deterministic, no UDF. The modulus keeps every
    * intermediate < 2^36, safe under ANSI overflow checking. */
  def rollingHash(docs: DataFrame): DataFrame = {
    val words = Dedup.tokens(col("text"))
    val mod = lit(2147483647L) // 2^31 − 1
    docs.select(col("doc_id"),
      aggregate(words, lit(0L),
        (acc, w) => pmod(acc * 31L + pmod(xxhash64(w), mod), mod))
        .as("rolling_hash"))
  }
}
