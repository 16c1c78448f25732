package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.BucketedStore
import graft.jobs.DedupIngestJob

class DedupIngestSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_dedup_ingest").toString

  private def history(out: String) =
    BucketedStore.history(spark, DedupIngestJob.hashStore(out))

  test("cross-batch dedup: later batches drop already-seen content") {
    val out = tmp()
    val b1 = Seq((1L, "the quick brown fox"), (2L, "totally new text"),
      (3L, "The quick BROWN fox!")).toDF("doc_id", "text") // 3 dups 1
    val n1 = DedupIngestJob.writeBatch(b1, out)
    assert(n1 == 2) // in-batch dedup keeps doc 1, drops 3

    val b2 = Seq((10L, "the quick brown fox"), // seen in batch 1
      (11L, "brand new content here")).toDF("doc_id", "text")
    val n2 = DedupIngestJob.writeBatch(b2, out)
    assert(n2 == 1)

    val corpus = spark.read.parquet(s"$out/documents")
    assert(corpus.count() == 3)
    assert(corpus.select("doc_id").as[Long].collect().toSet
      == Set(1L, 2L, 11L))
  }

  test("replay idempotence: re-appending a processed batch is a no-op") {
    val out = tmp()
    val b = Seq((1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text")
    assert(DedupIngestJob.writeBatch(b, out) == 2)
    assert(DedupIngestJob.writeBatch(b, out) == 0) // replayed batch
    assert(spark.read.parquet(s"$out/documents").count() == 2)
  }

  test("writeBatch reads the survivor count off the cut: no count job") {
    val out = tmp()
    val b1 = Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "Alpha beta"))
      .toDF("doc_id", "text")
    val b2 = Seq((4L, "alpha beta"), (5L, "epsilon zeta"))
      .toDF("doc_id", "text")
    var n1, n2 = 0L
    val jobs1 = sparkJobs { n1 = DedupIngestJob.writeBatch(b1, out) }
    val jobs2 = sparkJobs { n2 = DedupIngestJob.writeBatch(b2, out) }
    assert((n1, n2) == ((2L, 1L)))
    // 7 and 9 jobs when a count (2 jobs under AQE) ran after the cut
    assert((jobs1, jobs2) == ((5, 7)), s"$jobs1, $jobs2 jobs")
  }

  test("bucketed store: anti-join plans with no exchange on the store " +
    "side") {
    val out = tmp()
    // two appends → multiple files per bucket, the realistic store shape
    assert(DedupIngestJob.writeBatch(
      Seq((1L, "aa bb"), (2L, "cc dd")).toDF("doc_id", "text"), out) == 2)
    assert(DedupIngestJob.writeBatch(
      Seq((3L, "ee ff")).toDF("doc_id", "text"), out) == 1)
    // force the shuffle-join shape the 100 TB store takes (too big to
    // broadcast) and a static plan we can traverse
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val store = history(out).get
      val probe = Seq((99L, "zz yy")).toDF("doc_id", "text")
        .withColumn("content_hash",
          graft.dedup.Dedup.hash60(graft.dedup.Dedup.normalize(col("text"))))
      val joined = probe.join(store.select("content_hash"),
        Seq("content_hash"), "left_anti")
      val plan = joined.queryExecution.executedPlan
      import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val storeSide = plan.collectFirst {
        case j: SortMergeJoinExec => j.right
        case j: ShuffledHashJoinExec => j.right
      }
      assert(storeSide.isDefined, plan.toString)
      assert(storeSide.get.collect {
        case e: ShuffleExchangeExec => e
      }.isEmpty, s"store side re-shuffled:\n$plan")
      // the probe side DOES shuffle into the store's bucketing
      assert(plan.collect { case e: ShuffleExchangeExec => e }.nonEmpty)
      assert(joined.count() == 1)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("store side is never broadcast, even under the default threshold") {
    // left-anti can only broadcast its right side — the STORE, the side
    // that grows without bound. The storeView merge hint pins the
    // sort-merge shape at ANY threshold: without it, every micro-batch
    // re-collects + re-broadcasts the whole store while it sits under
    // 10 MB, and per-batch cost climbs with store size (measured
    // 5.9 → 21 s/batch over 12 batches in IngestThroughputBench).
    val out = tmp()
    assert(DedupIngestJob.writeBatch(
      Seq((1L, "aa bb"), (2L, "cc dd")).toDF("doc_id", "text"), out) == 2)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val store = history(out).get
      val probe = Seq((99L, "zz yy")).toDF("doc_id", "text")
        .withColumn("content_hash",
          graft.dedup.Dedup.hash60(graft.dedup.Dedup.normalize(col("text"))))
      val joined = probe.join(store.select("content_hash"),
        Seq("content_hash"), "left_anti")
      import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
      assert(joined.queryExecution.executedPlan.collect {
        case b: BroadcastHashJoinExec => b
      }.isEmpty, joined.queryExecution.executedPlan.toString)
      assert(joined.count() == 1)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("streaming file-drop: drains available files through foreachBatch") {
    val out = tmp()
    val in = tmp()
    val lines = Seq(
      """{"doc_id": 1, "text": "one two three"}""",
      """{"doc_id": 2, "text": "ONE two three"}""", // near-dup of 1
      """{"doc_id": 3, "text": "four five six"}""")
    Files.write(java.nio.file.Paths.get(s"$in/docs.json"),
      lines.mkString("\n").getBytes)
    val q = DedupIngestJob.runFiles(spark, in, out, tmp())
    q.awaitTermination(60000)
    val corpus = spark.read.parquet(s"$out/documents")
    assert(corpus.select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
  }
}
