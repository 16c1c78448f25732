package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Round-18 attribution probe (guide §1: measure first).
  *
  * Modes (args(0)):
  *   stages <queries> [reps] — run each named query warm, then measured,
  *     with a SparkListener recording every job/stage: task count, task
  *     time, wall span. Prints the per-stage table sorted by wall — the
  *     no-UI equivalent of the Stages tab, for attributing where an
  *     anti-scaling query's seconds live (32-way fan-out of tiny
  *     frames shows up as many stages × 32 tasks × ~0 rows).
  *   jobs <queries> [reps] — compact: per measured run, #jobs, #stages,
  *     #tasks, Σ task time vs wall (scheduler-overhead share).
  *
  * Usage: runMain graft.tools.R18Probe stages q34_pagerank [reps]
  */
object R18Probe {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("jobs")
    val names = if (args.length > 1) args(1).split(",").toSeq else Seq.empty
    val reps = if (args.length > 2) args(2).toInt else 1
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // A/B hook: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" session overrides
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";")
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })

    final case class St(var tasks: Int = 0, var taskMs: Long = 0L,
                        var subMs: Long = 0L, var doneMs: Long = 0L,
                        var name: String = "")
    val stages = mutable.LinkedHashMap.empty[Int, St]
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        synchronized {
          val st = stages.getOrElseUpdate(s.stageInfo.stageId, St())
          st.subMs = System.currentTimeMillis()
          st.name = s.stageInfo.name.takeWhile(_ != '\n')
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        synchronized {
          val st = stages.getOrElseUpdate(s.stageInfo.stageId, St())
          st.doneMs = System.currentTimeMillis()
          st.tasks = s.stageInfo.numTasks
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        synchronized {
          val st = stages.getOrElseUpdate(t.stageId, St())
          if (t.taskInfo != null) st.taskMs += t.taskInfo.duration
        }
    }

    // roundplans: print ONE in-loop round's physical plan for the
    // iterative operators — the query-level explain only shows the lazy
    // tail behind the last checkpoint, so the per-round broadcast
    // semi-join / BHJ shapes (the r18 changes) are invisible there.
    if (mode == "roundplans") {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.execution.FormattedMode
      import graft.graph.Snapshots
      val e0 = graft.Tables.lineitem(spark, d)
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(graft.Tables.orders(spark, d)
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("src"),
          (col("o_custkey") + lit(1000000L)).as("dst"))
      // q90's exact round shape: symmetrized cut + one peel round
      val dsym = e0.select(col("src").cast("long"), col("dst").cast("long"))
        .filter(col("src") =!= col("dst"))
      val e = dsym.unionByName(dsym.select(col("dst").as("src"),
        col("src").as("dst"))).distinct().transform(Snapshots.cut)
      val nodeBound = e.select(col("src")).distinct().count()
      val keep = Snapshots.broadcastIfSmall(
        e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= 30).select(col("src").as("__kept")),
        nodeBound)
      val round = e.join(keep, col("src") === col("__kept"), "left_semi")
        .join(keep, col("dst") === col("__kept"), "left_semi")
      println("===== q90_kcore one peel round =====")
      println(round.queryExecution.explainString(FormattedMode))
      spark.stop(); return
    }
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      // warm-up rep (codegen, parquet footers)
      try fn(spark, d).queryExecution.toRdd.count()
      catch { case e: Throwable => println(s"$name warmup failed: $e") }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      for (r <- 1 to reps) {
        stages.clear(); jobs = 0
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        fn(spark, d).queryExecution.toRdd.count()
        val wall = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        Thread.sleep(200) // let straggler listener events drain
        spark.sparkContext.removeSparkListener(listener)
        val nTasks = stages.values.map(_.tasks).sum
        val taskS = stages.values.map(_.taskMs).sum / 1e3
        println(f"R18 $name%-28s rep$r wall=$wall%6.2f jobs=$jobs%3d " +
          f"stages=${stages.size}%3d tasks=$nTasks%5d taskTime=$taskS%7.2f s")
        if (mode == "stages") {
          val rows = stages.toSeq.sortBy(-_._2.taskMs)
          for ((id, st) <- rows.take(40))
            println(f"  stage=$id%4d tasks=${st.tasks}%4d " +
              f"taskMs=${st.taskMs}%7d wallMs=${st.doneMs - st.subMs}%6d " +
              s" ${st.name.take(90)}")
        }
      }
    }
    spark.stop()
  }
}
