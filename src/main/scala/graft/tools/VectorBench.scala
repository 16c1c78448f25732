package graft.tools

import org.apache.spark.sql.functions._
import graft.sim.Similarity

/** Micro-benchmark: custom codegen cosine (graft.functions) vs the
  * built-in aggregate/zip_with fold on an all-pairs similarity workload.
  * Usage: runMain graft.tools.VectorBench [replication]
  */
object VectorBench {
  def main(args: Array[String]): Unit = {
    val rep = args.headOption.map(_.toInt).getOrElse(8)
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val e = spark.read
      .parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(spark.range(rep).select(col("id").as("r")))
      .select((col("vec_id") + col("r") * 1000000).as("vec_id"), col("v"))
      .cache()
    println(s"[vbench] vectors: ${e.count()}")
    val q = e.limit(64).select(col("vec_id").as("qid"), col("v").as("qv"))
    def time(label: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      val t0 = System.nanoTime()
      val s = mk.agg(sum(col("c"))).first().getDouble(0)
      println(f"[vbench] $label%-8s ${(System.nanoTime() - t0) / 1e9}%.2f s " +
        f"(checksum $s%.6f)")
    }
    val pairs = e.crossJoin(broadcast(q))
    // warm both paths once
    time("warmup-f") { pairs.select(
      Similarity.cosineFold(col("qv"), col("v")).as("c")) }
    time("warmup-n") { pairs.select(
      Similarity.cosine(col("qv"), col("v")).as("c")) }
    time("fold") { pairs.select(
      Similarity.cosineFold(col("qv"), col("v")).as("c")) }
    time("native") { pairs.select(
      Similarity.cosine(col("qv"), col("v")).as("c")) }
    spark.stop()
  }
}
