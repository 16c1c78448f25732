package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-17 phase-attribution / A-B probe (guide §1: measure first).
  *
  * Modes (args(0)):
  *   phases  — split the iterative graph queries into (edge build,
  *             full query) wall, print the edge-build plan
  *
  * Usage: runMain graft.tools.R17Probe <mode> [sfDir] [reps]
  */
object R17Probe {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("phases")
    val d = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.Tables

    def time[A](label: String)(f: => A): Unit = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        f
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        dt
      }
      println(f"R17 $label%-32s " +
        times.map(t => f"$t%6.2f").mkString(" ") + f"  min=${times.min}%6.2f")
    }

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // q95/q34 edge build (identical in both queries)
    def edges(s: SparkSession): DataFrame = Tables.orders(s, d)
      .filter(col("o_orderkey") % 601 === 0)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").cast("string").as("src"),
        col("s_nationkey").cast("string").as("dst"))

    mode match {
      case "phases" =>
        println("===== q95 edge build plan =====")
        println(edges(spark).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        time("q95_edges_noop") { noop(edges(spark)) }
        time("q95_full") {
          graft.SparkEntry.queries("q95_ppr")(spark, d)
            .queryExecution.toRdd.count()
        }
        time("q87_full") {
          graft.SparkEntry.queries("q87_bfs_hops")(spark, d)
            .queryExecution.toRdd.count()
        }

      case "shj" =>
        // guide §3.1: preferSortMergeJoin=false lets the planner pick
        // shuffled-hash where its size conditions hold (no sort);
        // interleaved on/off reps per query, same session
        val names = Seq("q18_ngram_jaccard", "q100_corpus_overlap",
          "q111_dedup_reps", "q88_containment", "q19_minhash_lsh",
          "q44_dup_groups", "q84_degree_stats", "q05_netflow_diff",
          "q134_fuzzy_decontamination", "q136_exact_decontamination")
        for (name <- names; on <- Seq(false, true, false, true)) {
          spark.conf.set("spark.sql.join.preferSortMergeJoin", !on)
          spark.conf.set(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            if (on) "64m" else "0")
          val t0 = System.nanoTime()
          // NonFatal only (ADVICE r17): an OOM/fatal error must kill
          // the probe rather than corrupt subsequent interleaved reps;
          // a failed rep prints as invalid, never as a timing line
          val ok =
            try { graft.SparkEntry.queries(name)(spark, d)
              .queryExecution.toRdd.count(); true }
            catch { case scala.util.control.NonFatal(e) =>
              println(s"$name failed: $e"); false }
          val dt = (System.nanoTime() - t0) / 1e9
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
          if (ok) println(f"R17 shj=$on%-5s $name%-28s $dt%6.2f")
          else println(s"R17 shj=$on $name INVALID")
        }

      case "q28plan" =>
        // attribute q28's driver-side seconds: warm run showed 4.35 s
        // wall with only 0.82 s of job time — is the gap the planning
        // of the ~2000-literal In() probe-key pushdown?
        graft.SparkEntry.queries("q28_lsh_ann")(spark, d)
          .queryExecution.toRdd.count() // warm everything incl. build
        for (r <- 1 to reps) {
          val t0 = System.nanoTime()
          val df = graft.SparkEntry.queries("q28_lsh_ann")(spark, d)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan // force analysis+optimization+planning
          val t2 = System.nanoTime()
          df.queryExecution.toRdd.count()
          val t3 = System.nanoTime()
          println(f"R17 q28 build=${(t1 - t0) / 1e9}%5.2f " +
            f"plan=${(t2 - t1) / 1e9}%5.2f exec=${(t3 - t2) / 1e9}%5.2f")
        }

      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
