package perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import graft.SparkEntry

/** Closed loop, one client: sequential passes over declared queries of
  * every module family, after an untimed warm-up pass. Each query is
  * materialized with `queryExecution.toRdd.count()`, which produces the
  * full output rows without letting Catalyst prune them away. */
object QuerySuite {
  /** (query, family): the family is the graft module the query's
    * definition calls. One query per family keeps a pass near five seconds
    * on a 4-core host; the pipeline family is represented by the corpus
    * funnel q106. The graph family is represented by the iterative k-core
    * peel q90, not by a PageRank query: PageRank.run is already what
    * dominates chain_flow's rollup tick, and measuring it here as well
    * would cost the run budget about eight seconds a run. */
  val Queries: Seq[(String, String)] = Seq(
    "q01_agg_sums" -> "ops",
    "q63_hist_quantiles" -> "functions",
    "q22_token_counts" -> "text",
    "q17_dedup_exact" -> "dedup",
    "q122_random_projection" -> "sim",
    "q90_kcore" -> "graph",
    "q106_corpus_pipeline" -> "pipeline",
    "q29_resize_plan" -> "multimodal",
    "q48_asof_rates" -> "plans")
  val Families: Seq[String] = Queries.map(_._2).distinct
  /** Timed passes at the least, whatever `--seconds` is. (A third pass
    * would cost more than the benchmark's run budget allows.) */
  val MinPasses = 2

  final case class Sample(query: String, family: String, ms: Double,
                          rows: Long, planMs: Double)

  def run(ctx: Ctx): Outcome = {
    val o = new Outcome
    val spark = ctx.spark
    def exec(q: String): (Long, Double) = {
      val df: DataFrame = SparkEntry.queries(q)(spark, ctx.dataDir)
      val rows = df.queryExecution.toRdd.count()
      val planMs = df.queryExecution.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      (rows, planMs)
    }
    // queries are independent: drop each one's cached and checkpointed
    // blocks before the next, outside its timing
    def release(): Unit = spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    val warmStart = Trace.nowMs()
    Queries.foreach { case (q, _) => scala.util.Try(exec(q)); release() }
    o.info("setup_warmup_s") = (Trace.nowMs() - warmStart) / 1000.0

    val samples = mutable.ArrayBuffer.empty[Sample]
    var passes = 0
    o.startTimed()
    var passMs = 0.0
    // at least MinPasses passes, and no further pass that would end past
    // the window
    while (passes < MinPasses || Trace.nowMs() - o.timedStart + passMs <= ctx.seconds * 1000.0) {
      val passStart = Trace.nowMs()
      Queries.foreach { case (q, fam) =>
        val t = Trace.nowMs()
        val r = o.attempt(q)(ctx.trace.fold(exec(q))(_.span(s"suite.$fam")(exec(q))))
        val ms = Trace.nowMs() - t
        release()
        r.foreach { case (rows, planMs) => samples += Sample(q, fam, ms, rows, planMs) }
      }
      passes += 1
      passMs = Trace.nowMs() - passStart
    }
    o.endTimed()

    val ms = samples.map(_.ms).toSeq
    o.e2e("latency_p50_ms") = Trace.median(ms)
    o.e2e("latency_p90_ms") = Trace.quantile(ms, 0.9)
    o.e2e("throughput_per_s") = samples.size / (ms.sum / 1000.0)
    val byQuery = samples.groupBy(_.query)
    // one pass: the sum of each query's median wall time
    o.e2e("batch_s") = byQuery.values.map(s => Trace.median(s.map(_.ms).toSeq)).sum / 1000.0
    o.info ++= Seq(
      "passes" -> passes,
      "queries" -> Queries.size,
      "latency_samples" -> samples.size,
      "query_median_ms" -> byQuery.map { case (q, s) => q -> Trace.median(s.map(_.ms).toSeq) },
      // the row counts and oracle SQL perfbench/run.py checks in DuckDB
      "rows" -> byQuery.map { case (q, s) => q -> s.map(_.rows).distinct },
      "oracle_sql" -> Queries.flatMap { case (q, _) => SparkEntry.oracleSql.get(q).map(q -> _) }.toMap)

    ctx.trace.foreach { tr =>
      tr.drain()
      val L = o.layers
      var gcMs, spillMb = 0.0
      Families.foreach { fam =>
        val ss = tr.allSpans.filter(_.name == s"suite.$fam")
        val st = ss.map(s => (s, JobStats.of(tr.spanJobs(s.id))))
        val per = passes.toDouble
        L(s"suite.$fam.wall_s") = ss.map(_.ms).sum / 1000.0 / per
        L(s"suite.$fam.task_s") = st.map(_._2.taskMs).sum / 1000.0 / per
        L(s"suite.$fam.idle_s") = st.map { case (s, j) => j.idleMs(s.start, s.end) }.sum / 1000.0 / per
        L(s"suite.$fam.plan_s") = samples.filter(_.family == fam).map(_.planMs).sum / 1000.0 / per
        L(s"suite.$fam.spark_jobs") = st.map(_._2.jobs).sum / per
        L(s"suite.$fam.shuffle_mb") = st.map(_._2.shuffleMb).sum / per
        gcMs += st.map(_._2.gcMs).sum
        spillMb += st.map(_._2.spillMb).sum
      }
      L("suite.gc_s") = gcMs / 1000.0 / passes
      L("suite.spill_mb") = spillMb / passes
    }
    o
  }
}
