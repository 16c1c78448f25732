package graft.tools

/** Plan auditor: prints formatted physical plans for selected queries and
  * greps the load-bearing properties (PushedFilters, ReadSchema pruning,
  * broadcast joins, WholeStageCodegen spans).
  *
  * Usage: runMain graft.tools.ExplainPlans [queryName ...]
  */
object ExplainPlans {
  def main(args: Array[String]): Unit = {
    // honor the bench env so plan evidence can be captured at the SAME
    // scale/core count the bench times (broadcast-vs-SMJ choices are
    // size-estimate-dependent; a sf0.001 plan can misrepresent sf0.1)
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"===== $n =====")
      try {
        val plan = graft.SparkEntry.queries(n)(spark, d)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        println(plan)
      } catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
