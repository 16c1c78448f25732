package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.text.Bpe

/** Pins the round-16 BPE merge kernel (graft.functions.BpeMergePass —
  * one codegen scan per word against the literal rule list) BIT-EXACT
  * against the HOF folds it replaced (Bpe.mergePassHof /
  * mergePassMultiHof / encodeHof, kept as the executable
  * specifications — the NgramKernelSpec precedent). The kernel carries
  * q105's training rounds and q107's encode, both per-WORD costs over
  * the distinct-word vocabulary frame (the corpus-soft share measured
  * vocab-linear, SCALE_AUDIT "BPE training stressed at grown
  * vocabulary"). */
class BpeKernelSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def kernel(s: Column, rules: Seq[(String, String)],
                     sequential: Boolean): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.BpeMergePass(
        org.apache.spark.sql.graftbridge.Bridge.expression(s),
        rules, sequential))

  // adversarial symbol streams: runs of equal symbols (greedy
  // non-overlap), rule chains, boundary merges, empty/1-symbol words
  private lazy val words = Seq(
    "a a a a", "a a a", "a b a b a", "b a b", "a", "b b",
    "x a b y", "a b", "b a", "c c c c c", "a b c a b c", ""
  ).zipWithIndex.map { case (w, i) => (i.toLong, w.split(" ").filter(_.nonEmpty).toSeq) }
    .toDF("id", "s")

  private def collectBoth(k: Column, h: Column): (Seq[Seq[String]], Seq[Seq[String]]) = {
    val rows = words.select(col("id"), k.as("k"), h.as("h"))
      .orderBy(col("id"))
      .as[(Long, Seq[String], Seq[String])].collect()
    (rows.map(_._2).toSeq, rows.map(_._3).toSeq)
  }

  test("single-rule kernel == the HOF fold, including greedy " +
    "non-overlap on runs (a a a a -> aa aa; a a a -> aa a)") {
    for (rule <- Seq(("a", "a"), ("a", "b"), ("b", "a"), ("c", "c"))) {
      val (k, h) = collectBoth(
        kernel(col("s"), Seq(rule), sequential = false),
        Bpe.mergePassHof(col("s"), rule._1, rule._2))
      assert(k == h, s"rule $rule: kernel $k vs hof $h")
    }
    // the documented run semantics, explicitly
    val aa = words.filter(col("id") === 0L)
      .select(kernel(col("s"), Seq(("a", "a")), sequential = false))
      .as[Seq[String]].head()
    assert(aa == Seq("aa", "aa"))
  }

  test("multi-rule ONE-PASS kernel == mergePassMultiHof on disjoint " +
    "AND deliberately conflicting rule sets (first match wins at each " +
    "position, exactly the nested-when fold)") {
    val ruleSets = Seq(
      Seq(("a", "b"), ("c", "c")),             // disjoint (the selectBatch case)
      Seq(("a", "b"), ("b", "a")),             // overlapping symbols
      Seq(("a", "a"), ("a", "b")),             // shared left, order matters
      Seq(("b", "a"), ("a", "b"), ("a", "a"))) // out-of-contract pile-up
    for (rules <- ruleSets) {
      val (k, h) = collectBoth(
        kernel(col("s"), rules, sequential = false),
        Bpe.mergePassMultiHof(col("s"), rules))
      assert(k == h, s"rules $rules: kernel $k vs hof $h")
    }
  }

  test("SEQUENTIAL kernel == the foldLeft of single-rule HOF passes " +
    "(the encode composition), where one-pass would differ") {
    val rules = Seq(("a", "b"), ("ab", "c")) // pass 2 consumes pass 1's output
    val seqK = kernel(col("s"), rules, sequential = true)
    val seqH = rules.foldLeft(col("s")) {
      case (acc, (l, r)) => Bpe.mergePassHof(acc, l, r)
    }
    val (k, h) = collectBoth(seqK, seqH)
    assert(k == h)
    // and it really is the sequential semantics: a b c -> abc
    val abc = Seq((0L, Seq("a", "b", "c"))).toDF("id", "s")
      .select(kernel(col("s"), rules, sequential = true))
      .as[Seq[String]].head()
    assert(abc == Seq("abc"))
  }

  test("null ELEMENTS (legal under split's containsNull=true type) " +
    "match the HOF: dropped, acting as a merge barrier — no NPE, no " +
    "null in the output") {
    // a b | null | a b  — the null must flush nothing mid-merge and
    // block (b, null)/(null, a) from ever matching
    val withNulls = Seq(0L).toDF("id")
      .select(col("id"), array(lit("a"), lit("b"), lit(null).cast("string"),
        lit("a"), lit("b"), lit(null).cast("string")).as("s"))
    for (seqMode <- Seq(false, true)) {
      val k = withNulls
        .select(kernel(col("s"), Seq(("a", "b")), sequential = seqMode))
        .as[Seq[String]].head()
      assert(k == Seq("ab", "ab"), s"sequential=$seqMode: $k")
    }
    val h = withNulls
      .select(Bpe.mergePassHof(col("s"), "a", "b"))
      .as[Seq[String]].head()
    assert(h == Seq("ab", "ab"), "HOF spec itself must drop nulls")
  }

  test("encode with an EMPTY merge list (degenerate corpus: learnMerges " +
    "can return none) is the plain char split == encodeHof") {
    val docs = Seq((0L, "a b ab")).toDF("doc_id", "text")
    val k = Bpe.encode(docs, Nil)
      .as[(String, Seq[String])].collect().sortBy(_._1).toSeq
    val h = Bpe.encodeHof(docs, Nil)
      .as[(String, Seq[String])].collect().sortBy(_._1).toSeq
    assert(k == h)
    assert(k == Seq(("a", Seq("a")), ("ab", Seq("a", "b")),
      ("b", Seq("b"))))
  }

  test("encode == encodeHof on the real corpus with a trained merge " +
    "list (the q107 path end to end)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val merges = Bpe.learnMerges(docs, merges = 6)
      .select(col("left"), col("right"))
      .as[(String, String)].collect().toSeq
    val k = Bpe.encode(docs, merges)
      .as[(String, Seq[String])].collect().sortBy(_._1).toSeq
    val h = Bpe.encodeHof(docs, merges)
      .as[(String, Seq[String])].collect().sortBy(_._1).toSeq
    assert(k == h)
    assert(k.nonEmpty)
  }
}
