package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.BucketedStore
import graft.jobs.NearDupIngestJob

class NearDupIngestSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_neardup_ingest").toString

  // 30 words; `variant` swaps one mid-sentence word — high but not
  // total shingle overlap (the near-dup regime, NOT an exact dup)
  private val base = "the quick brown fox jumps over the lazy dog while " +
    "seven wizards brew strong coffee under a pale morning sky and the " +
    "river runs cold past the old stone mill"
  private def variant(word: String): String =
    base.replace("coffee", word)
  private val unrelated = "completely different subject matter entirely " +
    "about spacecraft navigation systems and orbital mechanics with no " +
    "shared vocabulary at all in any shingle window of this text"

  spark.conf.set("spark.graft.neardup.minMatchFrac", "0.5")

  test("in-batch: a near-dup cluster contributes one representative") {
    val out = tmp()
    val b = Seq((1L, base), (2L, variant("tea")), (3L, unrelated))
      .toDF("doc_id", "text")
    assert(NearDupIngestJob.writeBatch(b, out) == 2)
    val corpus = spark.read.parquet(s"$out/documents")
    assert(corpus.select("doc_id").as[Long].collect().toSet
      == Set(1L, 3L))
  }

  test("cross-batch: later near-dups of stored docs are dropped") {
    val out = tmp()
    assert(NearDupIngestJob.writeBatch(
      Seq((1L, base), (2L, unrelated)).toDF("doc_id", "text"), out) == 2)
    val b2 = Seq(
      (10L, variant("cocoa")), // near-dup of stored doc 1
      (11L, "fresh new content about deep sea creatures and the " +
        "bioluminescent patterns they paint across the midnight zone " +
        "of the open ocean far below the storm"))
      .toDF("doc_id", "text")
    assert(NearDupIngestJob.writeBatch(b2, out) == 1)
    assert(spark.read.parquet(s"$out/documents")
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 11L))
  }

  test("successive batches leave no persistent RDD behind") {
    val out = tmp()
    val batches = Seq(
      Seq((1L, base), (2L, variant("tea")), (3L, unrelated)),
      Seq((10L, variant("cocoa")), (11L, variant("milk"))),
      Seq((20L, base), (21L, "a short note about gardening tools")))
    var admitted = Seq.empty[Long]
    val leaked = newPersistentRDDs {
      admitted = batches.map(b =>
        NearDupIngestJob.writeBatch(b.toDF("doc_id", "text"), out))
    }
    assert(admitted == Seq(2L, 0L, 1L))
    assert(leaked.isEmpty, s"${leaked.size} RDDs left after 3 batches")
  }

  test("replay idempotence: re-running a batch admits nothing") {
    val out = tmp()
    val b = Seq((1L, base), (2L, unrelated)).toDF("doc_id", "text")
    assert(NearDupIngestJob.writeBatch(b, out) == 2)
    assert(NearDupIngestJob.writeBatch(b, out) == 0)
    assert(spark.read.parquet(s"$out/documents").count() == 2)
  }

  test("bucket store joins without re-shuffling the store side") {
    val out = tmp()
    assert(NearDupIngestJob.writeBatch(
      Seq((1L, base), (2L, unrelated)).toDF("doc_id", "text"), out) == 2)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val store =
        BucketedStore.history(spark, NearDupIngestJob.bucketStore(out)).get
      val probe = Seq((99L, 12345L)).toDF("doc_id", "bucket")
      val joined = probe.join(store.select(col("bucket"),
        col("doc_id").as("store_id")), Seq("bucket"))
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
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("streaming file-drop drains through foreachBatch") {
    val out = tmp()
    val in = tmp()
    val lines = Seq(
      s"""{"doc_id": 1, "text": "$base"}""",
      s"""{"doc_id": 2, "text": "${variant("cider")}"}""",
      s"""{"doc_id": 3, "text": "$unrelated"}""")
    Files.write(java.nio.file.Paths.get(s"$in/docs.json"),
      lines.mkString("\n").getBytes)
    val q = NearDupIngestJob.runFiles(spark, in, out, tmp())
    q.awaitTermination(60000)
    assert(spark.read.parquet(s"$out/documents")
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
  }
}
