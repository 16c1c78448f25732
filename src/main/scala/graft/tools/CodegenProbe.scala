package graft.tools

/** Attributes a query's one-shot execution cost between JANINO
  * COMPILATION (distinct generated sources, measurable and in
  * principle reducible) and JVM/JIT warmth (inherent to first
  * execution): runs the query twice in one JVM and reports the
  * codegen-compile count, mean compile ms, and wall per run. A second
  * run with ~zero new compilations whose wall still exceeds the warm
  * minimum isolates the JIT share.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.CodegenProbe <query> [runs]
  */
object CodegenProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val runs = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val hist = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    // estimate each run's compile seconds from the histogram's TOTAL
    // compile-time delta (count × mean snapshotted before and after),
    // not this run's count × lifetime mean — the lifetime mean mixes
    // earlier runs' compile times into later runs' estimates
    def totalMs(): Double = hist.getCount * hist.getSnapshot.getMean
    for (r <- 1 to runs) {
      val c0 = hist.getCount
      val ms0 = totalMs()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.toRdd.count()
      val dt = (System.nanoTime() - t0) / 1e9
      val dc = hist.getCount - c0
      val dMs = totalMs() - ms0
      println(f"CODEGEN $name run$r wall=$dt%6.2fs newCompiles=$dc " +
        f"meanCompileMs=${if (dc > 0) dMs / dc else 0.0}%.1f " +
        f"estCompileS=${dMs / 1000}%.2f")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }
    spark.stop()
  }
}
