package graft.tools

/** Runs a comma-list of registry queries ONCE each, in order, in one
  * JVM with graft.Bench's exact inter-query hygiene (blocking
  * unpersist + GC) — the minimal reproducer harness for in-bench-vs-
  * isolated offsets: feed it a suspect query's bench predecessors and
  * watch whether the offset reappears.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.SeqProbe q1,q2,...
  */
object SeqProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // same one-family warm-up Bench gives the first timed query
    try graft.SparkEntry.queries("q01_agg_sums")(spark, sfDir)
      .queryExecution.toRdd.count()
    catch { case _: Throwable => }
    for (n <- names) {
      val t0 = System.nanoTime()
      try graft.SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.toRdd.count()
      catch { case t: Throwable => println(s"SEQPROBE $n FAILED: $t") }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      println(f"SEQPROBE $n%-28s $dt%7.2f")
    }
    spark.stop()
  }
}
