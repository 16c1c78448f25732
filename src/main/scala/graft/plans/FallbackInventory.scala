package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, PlanExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Registry-wide CodegenFallback inventory — the round-14 widening of
  * NgramKernelSpec's per-query no-fallback pin into a REGISTRY
  * invariant: walk every `SparkEntry.queries` executed plan, list every
  * interpreted (CodegenFallback) expression it evaluates, and diff
  * against the adjudicated [[allowlist]] below. A future refactor that
  * reintroduces an interpreted per-row lambda chain on a hot path —
  * the shape that cost 3–6× on the shingle/n-gram/span kernels before
  * rounds 12–14 kernel'd them — fails FallbackInventorySpec instead of
  * surfacing in a future sf10 profile.
  *
  * What "allowed" means: an entry here is an ADJUDICATED fallback — a
  * bounded fold whose lambda count is a small constant per row (not
  * per token), a driver-side literal-model construction, or a
  * sketch/aggregate whose interpreted share was measured immaterial.
  * Each entry carries its adjudication in the comment next to it; an
  * unlisted (query, expression) pair is a regression by definition.
  */
object FallbackInventory {

  /** Distinct CodegenFallback expression class simple names reachable
    * from `plan` — descends AQE wrappers, children, and subquery
    * plans inside expressions. */
  def fallbacks(plan: SparkPlan): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    def walkExpr(e: Expression): Unit = {
      e.foreach {
        case f: CodegenFallback => seen += f.getClass.getSimpleName
        case _ =>
      }
      e.foreach {
        case pe: PlanExpression[_] => pe.plan match {
          case sp: SparkPlan => walkPlan(sp)
          case _ =>
        }
        case _ =>
      }
    }
    def walkPlan(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walkPlan(a.executedPlan)
      // an EXECUTED adaptive plan is a tree of QueryStageExec leaves
      // (children = Nil, the stage plan hangs off `.plan`) — without
      // this case every build-phase captured plan (the round-15
      // listener capture) walks zero real nodes and the inventory is
      // silently empty
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        walkPlan(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        walkPlan(r.child)
      case _ =>
        p.expressions.foreach(walkExpr)
        p.children.foreach(walkPlan)
    }
    walkPlan(plan)
    seen.toSeq
  }

  /** The fallback inventory of EVERYTHING a query runs: the final
    * executed plan PLUS every plan executed while the DataFrame is
    * being CONSTRUCTED — `localCheckpoint` materializations, Lloyd
    * iterations, model/seed collects. Round-15: the r14 inventory only
    * walked final plans, which is exactly the blind spot the last two
    * scale bugs lived in — q104/q108's interpreted assignment ran
    * eagerly behind a localCheckpoint and passed the invariant with no
    * allowlist entry. A QueryExecutionListener registered for the
    * build phase captures those plans; callbacks are async on the
    * shared listener bus, so the bus is drained before reading.
    *
    * CONCURRENCY CONTRACT (ADVICE r15): the listener is session-wide,
    * so any execution another thread runs on this SparkSession during
    * the build window is attributed to the query under scan — a
    * spurious "unlisted fallback". Callers must hold the session
    * exclusively while this runs; FallbackInventorySpec and the probe
    * tools scan queries strictly sequentially for exactly this
    * reason. (Tagging captures by thread would miss the point: Spark
    * materializes localCheckpoints on scheduler threads, not the
    * caller's.) */
  def fallbacksWithBuild(spark: SparkSession)
                        (build: => org.apache.spark.sql.DataFrame): Seq[String] = {
    val captured =
      new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        captured.add(qe.executedPlan)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val finalFb = try {
      val f = fallbacks(build.queryExecution.executedPlan)
      org.apache.spark.sql.graftbridge.Bridge.waitListenerBus(spark)
      f
    } finally spark.listenerManager.unregister(listener)
    val buildFb = {
      import scala.jdk.CollectionConverters._
      captured.asScala.toSeq.flatMap(fallbacks)
    }
    (buildFb ++ finalFb).distinct
  }

  /** (query name → its build ∪ exec fallback inventory) over the given
    * registry names; building a query's DataFrame runs any driver-side
    * model loops it has, so prefer sf0.001. */
  def scan(spark: SparkSession, sfDir: String,
           names: Seq[String]): Map[String, Seq[String]] =
    names.map { n =>
      n -> fallbacksWithBuild(spark)(
        graft.SparkEntry.queries(n)(spark, sfDir))
    }.toMap

  /** The adjudicated registry allowlist: query name → fallback class
    * names it is PERMITTED to evaluate. Populated from the round-14
    * inventory (SCALE_AUDIT "the no-CodegenFallback pin widened to the
    * whole registry"); see each group's adjudication. */
  val allowlist: Map[String, Set[String]] = FallbackAllowlist.entries
}
