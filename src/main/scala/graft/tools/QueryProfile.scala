package graft.tools

/** Repeated single-query timer: `runMain graft.tools.QueryProfile q44_dup_groups 3`
  * — isolates a query from bench-order effects (codegen cache, GC debt
  * from earlier queries) to tell real regressions from interplay. */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        // toRdd.count(): materialize the real output (see Bench.scala —
        // plain count() lets Catalyst prune 1:1 transforms and even
        // whole row-preserving left joins out of the measured plan)
        fn(spark, sfDir).queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        dt
      }
      println(f"PROFILE $name%-24s " +
        times.map(t => f"$t%6.2f").mkString(" ") +
        f"  min=${times.min}%6.2f")
    }
    spark.stop()
  }
}
