package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.ChainLines.block
import graft.jobs.VolTransferJob
import graft.ops.Pricing

/** The flagship batch core's write phase: the `utxo`, `vol` and
  * `edges` writes run at once on fresh threads, after the cuts that
  * pin what they read. */
class VolTransferJobSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_voltransfer").toString

  private lazy val dim = Pricing.dimension(
    Seq.empty[(String, Double)].toDF("unit", "last_price_ada"),
    Seq.empty[(String, Int)].toDF("unit", "decimals"))

  // batch 1: t1 pays A, t2 spends it to B; batch 2: t3 spends t2 to C
  // (cross-batch) and t4 spends t3 to D (intra-batch), over 3 input
  // partitions
  private def batch1: DataFrame = Seq(
    block(100, "t1", Nil, "A", 1000000L),
    block(101, "t2", Seq("t1"), "B", 600000L)).toDF("value")
  private def batch2: DataFrame = Seq(
    block(102, "t3", Seq("t2"), "C", 400000L),
    block(103, "t4", Seq("t3"), "D", 300000L),
    block(104, "t5", Nil, "E", 5000000L)).toDF("value").repartition(3)

  private def parquetFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).fold(0)(
      _.count(_.getName.endsWith(".parquet")))

  test("writeBatch on an existing store: Spark job count pin, one utxo " +
    "file per batch") {
    val out = tmp()
    VolTransferJob.writeBatch(spark, batch1, dim, out)
    val utxoFiles = parquetFiles(s"$out/utxo")
    val jobs = sparkJobs(VolTransferJob.writeBatch(spark, batch2, dim, out))
    // 14 (and 3 utxo files, one per input partition) when the utxo
    // write, an untyped re-read of the whole store, the vol write and
    // the edges write ran one after another
    assert(jobs == 13, s"writeBatch ran $jobs Spark jobs")
    assert(parquetFiles(s"$out/utxo") == utxoFiles + 1)
    val edges = spark.read.parquet(s"$out/edges")
      .select("hash", "rx_addr", "send_addr", "value")
      .as[(String, String, String, Long)].collect().toSet
    assert(edges == Set(("t2", "B", "A", 600000L), ("t3", "C", "B", 400000L),
      ("t4", "D", "C", 300000L)))
  }

  test("every job of writeBatch carries the caller's local properties") {
    val out = tmp()
    VolTransferJob.writeBatch(spark, batch1, dim, out)
    val seen = jobLocalProperty("graft.spec.tag", "batch-2")(
      VolTransferJob.writeBatch(spark, batch2, dim, out))
    assert(seen.nonEmpty && seen.forall(_ == "batch-2"), seen)
  }

  test("a failing write fails the batch after every write has ended") {
    val out = tmp()
    VolTransferJob.writeBatch(spark, batch1, dim, out)
    // a regular file where the edges directory should be
    graft.io.Fs.deletePath(spark, s"$out/edges")
    Files.writeString(java.nio.file.Path.of(out, "edges"), "not a table")
    val before = spark.read.parquet(s"$out/vol").count()
    intercept[Exception](VolTransferJob.writeBatch(spark, batch2, dim, out))
    val writers = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-write-") && t.isAlive)
    assert(writers.isEmpty, writers.map(_.getName))
    // the vol write ran to its end beside the failed one
    assert(spark.read.parquet(s"$out/vol").count() > before)
  }
}
