package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Evidence for the TopKAgg claim: per-group top-k via bounded-heap
  * partial aggregation vs the window formulation (full per-group sort).
  * Same output rows; the difference is what crosses the shuffle —
  * k rows per group per map partition vs every row.
  *
  * Usage: runMain graft.tools.TopKBench [rows] [groups] [k]
  */
object TopKBench {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(5000000L)
    val groups = args.lift(1).map(_.toInt).getOrElse(100)
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val df = spark.range(rows).select(
      (col("id") % groups).cast("string").as("g"),
      (col("id") * 2654435761L % 1000000).cast("double").as("s"),
      col("id").as("rid")).cache()
    df.count()

    def time(label: String)(body: => Long): Long = {
      val t0 = System.nanoTime()
      val n = body
      println(f"[topkbench] $label%-8s ${(System.nanoTime() - t0) / 1e9}%6.2f s ($n rows)")
      n
    }
    // warm both plans once
    df.groupBy("g").agg(graft.functions.TopKAgg.topk_agg($"s", $"rid", k)).count()
    val win = Window.partitionBy("g").orderBy($"s".desc, $"rid".asc)
    df.withColumn("rn", row_number().over(win)).filter($"rn" <= k).count()

    val nHeap = time("heap") {
      df.groupBy("g")
        .agg(graft.functions.TopKAgg.topk_agg($"s", $"rid", k).as("ids"))
        .select(explode($"ids")).count()
    }
    val nWin = time("window") {
      df.withColumn("rn", row_number().over(win)).filter($"rn" <= k).count()
    }
    assert(nHeap == nWin, s"$nHeap vs $nWin")
    spark.stop()
  }
}
