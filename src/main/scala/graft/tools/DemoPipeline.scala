package graft.tools

import graft.jobs.{RawPersistJob, VolTransferJob, RollupJob}
import graft.ops.Pricing
import graft.streaming.ReplayServer

/** End-to-end demo/diagnostic: replays block lines over a real socket into
  * the streaming raw-persist job, runs the vol/transfer batch core and the
  * rollup chain, and prints the resulting tables.
  *
  * Usage: runMain graft.tools.DemoPipeline [outDir]
  */
object DemoPipeline {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_demo").toString)
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val lines = Seq(
      """{"py/state":{"blocktype":"praos","era":"conway","height":100,"id":"b1","slot":1000,"transactions":[{"id":"t1","inputs":[],"outputs":[{"address":"A","datum":null,"value":"{\"ada\":{\"lovelace\":1000000},\"pol1\":{\"6161\":100}}"}],"fee":"1"}]}}""",
      """{"py/state":{"blocktype":"praos","era":"conway","height":101,"id":"b2","slot":1010,"transactions":[{"id":"t2","inputs":[{"index":0,"transaction":{"id":"t1"}}],"outputs":[{"address":"B","datum":null,"value":"{\"ada\":{\"lovelace\":400000},\"pol1\":{\"6161\":100}}"}],"fee":"2"}]}}""")

    println(s"[demo] outDir=$out")
    // 1. streaming raw persist over a real socket
    val server = new ReplayServer(lines).start()
    val q = RawPersistJob.run(spark, "localhost", server.port, out)
    val deadline = System.currentTimeMillis() + 30000
    var n = 0L
    while (n < 2 && System.currentTimeMillis() < deadline) {
      Thread.sleep(500)
      n = try spark.read.parquet(s"$out/block").count()
      catch { case _: Throwable => 0L }
    }
    q.stop(); server.stop()
    println(s"[demo] raw persist: $n blocks")
    spark.read.parquet(s"$out/tx").show(false)

    // 2. vol/transfer batch core with a tiny price dim
    val dim = Pricing.dimension(
      Seq(("pol16161", 2.0)).toDF("unit", "last_price_ada"),
      Seq(("pol16161", 2)).toDF("unit", "decimals"))
    VolTransferJob.writeBatch(spark, lines.take(1).toDF("value"), dim, out)
    VolTransferJob.writeBatch(spark, lines.drop(1).toDF("value"), dim, out)
    println("[demo] vol:")
    spark.read.parquet(s"$out/vol").orderBy("hash", "unit").show(false)
    println("[demo] edges:")
    spark.read.parquet(s"$out/edges").show(false)

    // 3. rollups + pagerank
    RollupJob.run(spark, out)
    println("[demo] vol_by_block:")
    spark.read.parquet(s"$out/vol_by_block").orderBy("height", "unit").show(false)
    println("[demo] address_pagerank:")
    spark.read.parquet(s"$out/address_pagerank").orderBy("address").show(false)
    spark.stop()
  }
}
