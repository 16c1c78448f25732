package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.CorpusPipeline

class CorpusPipelineSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // English texts that pass the stopword/alpha quality score; each doc
  // is lexically distinct so only the planted pairs relate. The junk
  // docs keep a few English stopwords (so language-ID still says "en"
  // and the QUALITY gate, not the language filter, is what drops them).
  private val t1 = "the cat and the dog walked over the hill at dawn"
  private val t3 = "the ship sailed and the crew sang of the open sea"
  // 17 tokens — long enough to own 12-gram spans for the scrub stage
  private val t8 = "the garden grew and the roses bloomed under the " +
    "summer sun while the birds sang sweet songs"
  // first 14 tokens of t8 + a unique 8-token tail: the scrub target
  private val t10 = t8.split(" ").take(14).mkString(" ") +
    " entirely fresh tail content appended for testing purposes"
  private val junk = "zq xv the 9 and 9 zq xv the 9 and 9"

  private lazy val docs = Seq(
    (1L, t1, "web"),
    (2L, t1, "web"),                          // exact dup of 1 → dropped
    (3L, t3 + " tonight", "web"),
    (4L, t3 + " forever", "web"),             // near-dup of 3 → dropped
    (5L, "el la de el la de el la de el la de", "web"), // Spanish → dropped
    (6L, junk, "web"),                        // junk → quality-gated
    (7L, "the benchmark sentence copied verbatim here and the tale of " +
      "the fox", "books"),                    // contaminated → dropped
    (8L, t8, "books"),
    (9L, junk + " ww", "books"),              // junk → quality-gated
    (10L, t10, "books")                       // 14-token span → scrubbed
  ).toDF("doc_id", "text", "source")

  // shares a 5-gram run with doc 7 (id space disjoint from the corpus)
  private lazy val benchmark = Seq(
    (900L, "the benchmark sentence copied verbatim here indeed"))
    .toDF("doc_id", "text")

  test("funnel: each stage drops exactly its targets, order preserved, " +
    "and scrub token accounting closes") {
    val p = CorpusPipeline.prepare(
      docs, benchmark, langs = Seq("en"),
      minQualityPercentile = 0.2, nearDupThreshold = 0.5, scrubK = 12)
    val ids = p.docs.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 3L, 8L, 10L), s"survivors: $ids")
    val stages = p.funnel.map(f => f.stage -> f.rows)
    assert(stages.map(_._1) == Seq("input", "lang_filter", "quality_gate",
      "exact_dedup", "substring_scrub", "near_dedup", "decontaminate"))
    val m = stages.toMap
    assert(m("input") == 10)
    assert(m("lang_filter") == 9)    // doc 5 (es) gone
    assert(m("quality_gate") == 7)   // junk docs 6 and 9 gone
    assert(m("exact_dedup") == 6)    // doc 2 gone, canonical 1 kept
    assert(m("substring_scrub") == 6) // rows kept; doc 10's span removed
    assert(m("near_dedup") == 5)     // doc 4 gone, cluster-min 3 kept
    assert(m("decontaminate") == 4)  // doc 7 gone
    // funnel is monotone non-increasing in rows AND tokens
    assert(p.funnel.map(_.rows).sliding(2).forall(w => w(0) >= w(1)))
    assert(p.funnel.map(_.tokens).sliding(2).forall(w => w(0) >= w(1)))
    // survivors keep the original schema; doc 10's text is the scrubbed
    // tail (the 14-token span duplicated from doc 8 is gone)
    assert(p.docs.columns.toSeq == Seq("doc_id", "text", "source"))
    val text10 = p.docs.filter($"doc_id" === 10).select("text")
      .as[String].head()
    assert(text10 ==
      "entirely fresh tail content appended for testing purposes")
    assert(p.bpeModel.isEmpty)
  }

  test("token conservation: tokens removed by the scrub stage equal " +
    "the operator's n_removed sum") {
    val p = CorpusPipeline.prepare(
      docs, benchmark, langs = Seq("en"),
      minQualityPercentile = 0.2, nearDupThreshold = 0.5, scrubK = 12)
    val m = p.funnel.map(f => f.stage -> f.tokens).toMap
    // re-derive the scrub input independently and ask the operator
    val exactSurvivors = docs.filter($"doc_id".isin(1L, 3L, 4L, 7L, 8L, 10L))
    val removed = graft.dedup.SubstringDedup.dedupCorpus(exactSurvivors, 12)
      .agg(org.apache.spark.sql.functions.sum("n_removed"))
      .as[Long].head()
    assert(removed == 14L, s"doc 10's 3 overlapping 12-gram spans " +
      s"cover tokens 1..14; got $removed")
    assert(m("exact_dedup") - m("substring_scrub") == removed)
  }

  test("full path: semantic dedup drops the planted embedding twin and " +
    "BPE trains on the shipped corpus") {
    // doc 8 is doc 1's semantic twin (cos ≈ 0.9992 ≥ 0.95); the rest
    // are mutually orthogonal
    val emb = Seq(
      (1L, Array(1.0, 0.0, 0.0, 0.0)),
      (3L, Array(0.0, 1.0, 0.0, 0.0)),
      (7L, Array(0.0, 0.0, 1.0, 0.0)),
      (8L, Array(0.999, 0.04, 0.0, 0.0)),
      (10L, Array(0.0, 0.0, 0.0, 1.0))
    ).toDF("doc_id", "embedding")
    val p = CorpusPipeline.prepare(
      docs, benchmark, langs = Seq("en"),
      minQualityPercentile = 0.2, nearDupThreshold = 0.5, scrubK = 12,
      embeddings = Some(emb), semanticClusters = 2,
      semanticThreshold = 0.95, bpeMerges = 3)
    val ids = p.docs.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 3L, 10L), s"survivors: $ids")
    val stages = p.funnel.map(_.stage)
    assert(stages == Seq("input", "lang_filter", "quality_gate",
      "exact_dedup", "substring_scrub", "near_dedup", "semantic_dedup",
      "decontaminate"))
    val m = p.funnel.map(f => f.stage -> f.rows).toMap
    assert(m("near_dedup") == 5 && m("semantic_dedup") == 4 &&
      m("decontaminate") == 3)
    // the tokenizer model: 3 merges learned from the 3 survivors
    val model = p.bpeModel.get.as[(Int, String, String, Long)]
      .collect().toList
    assert(model.size == 3 && model.map(_._1) == List(0, 1, 2))
    // it matches BPE learned directly on the shipped text
    val direct = graft.text.Bpe.learnMerges(
      p.docs.select("text"), 3).as[(Int, String, String, Long)]
      .collect().toList
    assert(model == direct)
  }

  test("fused quality gate keeps exactly TrainingData.qualityGate's " +
    "rows (randomized strata, duplicate scores, single-row stratum)") {
    // texts short enough (< 8 tokens) that the scrub stage can't touch
    // them, mutually distinct so exact dedup is a no-op, benchmark
    // disjoint so decontamination is a no-op, langs open so the lang
    // filter passes everything → p.docs ids == quality-gate keep-set
    val rnd = new scala.util.Random(20260813L)
    val vocab = Array("the", "and", "of", "zq", "cat", "dog", "9", "xv")
    val rows = (1L to 120L).map { id =>
      val n = 3 + rnd.nextInt(4)
      val words = Seq.fill(n)(vocab(rnd.nextInt(vocab.length)))
      // a unique tail token keeps texts distinct without an 8-gram
      (id, (words :+ s"u$id").mkString(" "),
        if (id == 120L) "solo" else s"src${id % 3}")
    }
    val corpus = rows.toDF("doc_id", "text", "source")
    val bench = Seq((999L, "completely unrelated benchmark content"))
      .toDF("doc_id", "text")
    val p = CorpusPipeline.prepare(
      corpus, bench, langs = Seq("en", "es", "de", "fr", "und"),
      minQualityPercentile = 0.4, nearDupThreshold = 0.0, scrubK = 8)
    val got = p.docs.select("doc_id").as[Long].collect().toSet
    val want = graft.pipeline.TrainingData.qualityGate(
      graft.text.TextAnalysis.qualityScore(corpus)
        .join(corpus.select($"doc_id", $"source"), Seq("doc_id")),
      $"source", $"quality", $"doc_id", 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(got == want, s"fused minus ref: ${got diff want}; " +
      s"ref minus fused: ${want diff got}")
    // the single-row stratum's only doc always survives
    assert(got.contains(120L))
    val m = p.funnel.map(f => f.stage -> f.rows).toMap
    assert(m("quality_gate") == want.size)
    assert(m("input") == 120 && m("lang_filter") == 120 &&
      m("exact_dedup") == want.size &&
      m("substring_scrub") == want.size &&
      m("decontaminate") == want.size)
  }

  test("classifier gate drops exactly the docs the NB model rejects; " +
    "an all-labels keep set is the identity") {
    val model = graft.text.NaiveBayes.train(docs, "source")
    def run(clf: Option[(org.apache.spark.sql.DataFrame, Seq[String])]) =
      CorpusPipeline.prepare(docs, benchmark, langs = Seq("en"),
        minQualityPercentile = 0.2, nearDupThreshold = 0.0, scrubK = 12,
        classifier = clf)
    val base = run(None)
    val baseIds = base.docs.select("doc_id").as[Long].collect().toSet

    // keep ALL labels → the gate is a no-op on rows
    val all = run(Some((model, Seq("web", "books"))))
    assert(all.docs.select("doc_id").as[Long].collect().toSet == baseIds)
    assert(all.funnel.map(_.stage) == Seq("input", "lang_filter",
      "quality_gate", "exact_dedup", "substring_scrub",
      "classifier_gate", "decontaminate"))

    // keep 'books' only → survivors are base's survivors whose argmax
    // class ON THE SCRUBBED TEXT is 'books' (classify is per-doc given
    // a fixed model, and decontamination is doc-local, so the stages
    // commute on the doc level)
    val only = run(Some((model, Seq("books"))))
    val onlyIds = only.docs.select("doc_id").as[Long].collect().toSet
    val predBooks = graft.text.NaiveBayes
      .classify(base.docs, model)
      .filter($"pred_label" === "books")
      .select("doc_id").as[Long].collect().toSet
    assert(onlyIds == (baseIds intersect predBooks), s"got $onlyIds")
    assert(onlyIds.nonEmpty && onlyIds != baseIds) // the gate gates
    // funnel accounting: classifier_gate row count matches its stage
    val rowsAt = only.funnel.map(f => f.stage -> f.rows).toMap
    assert(rowsAt("classifier_gate") >= onlyIds.size &&
      rowsAt("classifier_gate") <= rowsAt("substring_scrub"))
  }

  test("segment dedup + domain cap stages: accounting closes and the " +
    "composition equals the standalone operators") {
    import org.apache.spark.sql.functions.{col, length}
    // w = 2 segments; docs 1/2 share [p q] → doc 2 keeps only "t u";
    // budget 4 tokens/source → each source keeps exactly its
    // highest-priority doc (n_chars tie → doc_id asc)
    val docs2 = Seq(
      (1L, "p q r s", "web"),
      (2L, "p q t u", "web"),
      (3L, "v w x y", "books"),
      (4L, "a b c d", "books")
    ).toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val emptyBench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val p = CorpusPipeline.prepare(
      docs2, emptyBench, langs = Seq("en", "und"),
      minQualityPercentile = 0.0, nearDupThreshold = 0.0, scrubK = 8,
      segmentDedupW = 2, domainBudget = 4)
    assert(p.funnel.map(_.stage) == Seq("input", "lang_filter",
      "quality_gate", "exact_dedup", "substring_scrub", "segment_dedup",
      "decontaminate", "domain_cap"))
    val tok = p.funnel.map(f => f.stage -> f.tokens).toMap
    // segment dedup removed exactly doc 2's shared [p q] segment
    assert(tok("substring_scrub") == 16L && tok("segment_dedup") == 14L)
    // the removal equals the standalone operator's accounting
    val segd = graft.dedup.ParagraphDedup.dedupSegments(docs2, 2)
    val keptToks = segd.agg(org.apache.spark.sql.functions
      .sum(org.apache.spark.sql.functions
        .size(org.apache.spark.sql.functions.split(col("text_dedup"), " "))))
      .as[Long].head()
    assert(keptToks == 14L)
    // domain cap: budget 4 keeps one 4-token doc per source
    assert(tok("domain_cap") == 8L)
    val ids = p.docs.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 3L), s"survivors: $ids")
    // and equals the standalone cap over the pre-cap corpus
    val preCap = docs2
      .withColumn("text", org.apache.spark.sql.functions
        .when(col("doc_id") === 2L, "t u").otherwise(col("text")))
    val capIds = graft.pipeline.DomainBalance
      .capByTokenBudget(preCap, 4).select("doc_id").as[Long]
      .collect().toSet
    assert(capIds == ids)
  }

  test("q106's options: every receipt rides a cut, no receipt jobs") {
    var p: CorpusPipeline.Prepared = null
    val jobs = sparkJobs {
      p = CorpusPipeline.prepare(docs, benchmark, langs = Seq("en", "und"),
        minQualityPercentile = 0.2, nearDupThreshold = 0.0, scrubK = 8)
    }
    // 24 jobs when the input/lang/quality receipts were three separate
    // aggregates (2 jobs each under AQE) and decontaminate was a
    // persist + count (2 jobs more than its cut): 24 − 6 − 2 = 16
    assert(jobs == 16, s"$jobs jobs")
    assert(p.funnel.map(_.stage) == Seq("input", "lang_filter",
      "quality_gate", "exact_dedup", "substring_scrub", "decontaminate"))
  }
}
