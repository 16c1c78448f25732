package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-job wall breakdown of the corpus-funnel queries: attaches a
  * listener that prints every Spark job's duration and first stage
  * name, then runs the named query once warm — tells WHICH funnel
  * barrier the seconds go to, not just the query total.
  *
  * Usage: runMain graft.tools.FunnelProfile q106_corpus_pipeline
  */
object FunnelProfile {
  def main(args: Array[String]): Unit = {
    val name = if (args.nonEmpty) args(0) else "q106_corpus_pipeline"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val starts = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts(j.jobId) = (System.nanoTime(),
          // the funnel stages set a job description ("funnel:<stage>",
          // CorpusPipeline.describing); fall back to the stage name.
          // SPARK_GRAFT_FUNNEL_STAGES=1 appends each job's stage-name
          // list — distinguishes the concurrent AQE leaf stages that
          // share one description
          (Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(j.stageInfos.headOption
              .map(_.name.takeWhile(_ != '\n')).getOrElse("?"))) +
            (if (sys.env.contains("SPARK_GRAFT_FUNNEL_STAGES"))
              j.stageInfos.map(s => s.name.takeWhile(_ != '\n') +
                "[" + s.details.split("\n").find(_.contains("graft."))
                  .getOrElse("").trim + "]").mkString(" | ", " | ", "")
            else ""))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        starts.remove(j.jobId).foreach { case (t0, st) =>
          if (record)
            println(f"  job ${j.jobId}%4d  ${(System.nanoTime() - t0) / 1e9}%7.2f s  $st")
        }
      // stage-level data-flow fingerprint: input vs shuffle bytes tell
      // a corpus scan/tokenize stage from a shuffle-consuming aggregate
      // even when every AQE stage shares the same lambda name
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (record && sys.env.contains("SPARK_GRAFT_FUNNEL_STAGES")) {
          val m = s.stageInfo.taskMetrics
          println(f"    stage ${s.stageInfo.stageId}%4d " +
            f"in=${m.inputMetrics.bytesRead / 1e6}%8.1fMB " +
            f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
            f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
            f"cpu=${m.executorCpuTime / 1e9}%7.1fs " +
            s.stageInfo.name.takeWhile(_ != '\n'))
        }
    })
    val fn = graft.SparkEntry.queries(name)
    // warm-up run
    fn(spark, sfDir).queryExecution.toRdd.count()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
    println(s"==== $name (warm) ====")
    record = true
    val t0 = System.nanoTime()
    fn(spark, sfDir).queryExecution.toRdd.count()
    // listener events drain asynchronously
    Thread.sleep(500)
    println(f"TOTAL ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
