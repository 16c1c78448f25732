package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.jobs._
import graft.ChainLines.block
import graft.ops.Pricing

/** Every ingest job runs many micro-batches in one long-lived session,
  * so a cut or cache a batch leaves behind grows executor storage
  * without bound. Each job here takes ≥ 3 batches (IvfPq: a build and
  * two ingests) and must leave no persistent RDD behind. */
class IngestLeakSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_ingest_leak").toString

  /** Runs `batches` against a fresh outDir and returns what each one
    * reported, asserting that together they leave no persistent RDD. */
  private def leakFree[T](batches: Seq[String => T]): Seq[T] = {
    val out = tmp()
    var results = Seq.empty[T]
    val leaked = newPersistentRDDs { results = batches.map(_(out)) }
    assert(leaked.isEmpty, s"persistent RDDs left behind: $leaked")
    results
  }

  // 12-word docs, ids increasing across batches; every batch after the
  // first repeats doc 0's text (a cross-batch exact duplicate) and one
  // doc of its own batch (an in-batch duplicate)
  private val words = "the quick brown fox jumps over a lazy dog near " +
    "river bank"
  private def text(i: Long) = words.split(" ")
    .map(w => s"$w${i % 7}").mkString(" ") + s" tail$i"
  private def docs(b: Int): DataFrame = {
    val lo = b * 10L
    ((lo until lo + 6).map(i => (i, text(i))) ++
      Seq((lo + 6, text(0)), (lo + 7, text(lo)))).toDF("doc_id", "text")
  }

  test("DedupIngestJob: 3 batches leave no persistent RDD behind") {
    val n = leakFree((0 until 3).map(b =>
      (out: String) => DedupIngestJob.writeBatch(docs(b), out)))
    assert(n.head > 0 && n.sum > n.head, n.toString)
  }

  test("NearDupIngestJob: 3 batches leave no persistent RDD behind") {
    val n = leakFree((0 until 3).map(b =>
      (out: String) => NearDupIngestJob.writeBatch(docs(b), out)))
    assert(n.head > 0, n.toString)
  }

  test("SubstringIngestJob: 3 batches leave no persistent RDD behind") {
    val n = leakFree((0 until 3).map(b =>
      (out: String) => SubstringIngestJob.writeBatch(docs(b), out, k = 4)))
    assert(n == Seq(8L, 8L, 8L), n.toString)
  }

  test("SegmentIngestJob: 3 batches leave no persistent RDD behind") {
    val n = leakFree((0 until 3).map(b =>
      (out: String) => SegmentIngestJob.writeBatch(docs(b), out, w = 4)))
    assert(n == Seq(8L, 8L, 8L), n.toString)
  }

  test("CorpusIngestJob: 3 batches leave no persistent RDD behind") {
    val n = leakFree((0 until 3).map(b => (out: String) =>
      CorpusIngestJob.writeBatch(docs(b).withColumn("source", lit("web")),
        out, langs = Seq("en", "und"), qualityFloor = 0.0, scrubK = 4)))
    assert(n.head > 0, n.toString)
  }

  // 16-dim vectors in two families plus loners, ids increasing
  private def vecs(b: Int): DataFrame = {
    val lo = b * 20L
    (lo until lo + 20).map { i =>
      val fam = (i % 3).toInt
      (i, Array.tabulate(16)(d =>
        if (d % 3 == fam) 1.0 + (i % 5) * 0.01 else (i * 7 + d) % 11 * 0.001))
    }.toDF("vec_id", "embedding")
  }

  test("SemanticIngestJob: 3 batches leave no persistent RDD behind") {
    val n = leakFree((0 until 3).map(b => (out: String) =>
      SemanticIngestJob.writeBatch(vecs(b), out, clusters = 3,
        threshold = 0.95)))
    assert(n == Seq(20L, 20L, 20L), n.toString)
  }

  test("IvfPqIndexJob: a build and 2 ingests leave no persistent RDD " +
    "behind") {
    val n = leakFree(Seq(
      (out: String) => { IvfPqIndexJob.build(vecs(0), out); 20L },
      (out: String) => IvfPqIndexJob.ingest(vecs(1), out),
      (out: String) => IvfPqIndexJob.ingest(vecs(2), out)))
    assert(n == Seq(20L, 20L, 20L), n.toString)
  }

  // three blocks: t1 pays A; t2 spends t1 to B; t3 spends t2 to C
  private val blocks = Seq(
    block(100, "t1", Nil, "A", 1000000L),
    block(101, "t2", Seq("t1"), "B", 400000L),
    block(102, "t3", Seq("t2"), "C", 300000L))

  test("RawPersistJob: 3 batches leave no persistent RDD behind") {
    val out = leakFree(blocks.map(l => (out: String) => {
      RawPersistJob.writeBatch(Seq(l).toDF("value"), out); out
    })).head
    assert(spark.read.parquet(s"$out/tx").count() == 3)
  }

  test("VolTransferJob: 3 batches leave no persistent RDD behind") {
    val dim = Pricing.dimension(
      Seq.empty[(String, Double)].toDF("unit", "last_price_ada"),
      Seq.empty[(String, Int)].toDF("unit", "decimals"))
    val out = leakFree(blocks.map(l => (out: String) => {
      VolTransferJob.writeBatch(spark, Seq(l).toDF("value"), dim, out); out
    })).head
    assert(spark.read.parquet(s"$out/vol").select("hash").as[String]
      .collect().toSet == Set("t1", "t2", "t3"))
  }
}
