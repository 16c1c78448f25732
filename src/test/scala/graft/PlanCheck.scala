package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, LogicalPlan, Window}
import org.apache.spark.sql.execution.{ExpandExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}

/** Shared plan assertions for specs that pin SCALE contracts rather than
  * values — e.g. "the only unpartitioned window in this operator runs
  * over a post-aggregation (bounded) frame, never the corpus".
  */
object PlanCheck {

  /** Every `Window` with an EMPTY partitionSpec in `df`'s optimized
    * plan must have an `Aggregate`/`Distinct` strictly below it — i.e.
    * the single-partition window input is an already-shrunk grouped
    * table (bucket table, stratum table, source table), not a
    * data-sized frame. Fails with the offending subtree otherwise. */
  def assertUnpartitionedWindowsReadAggregates(df: DataFrame): Unit = {
    val plan = df.queryExecution.optimizedPlan
    def hasAgg(p: LogicalPlan): Boolean =
      p.collectFirst { case a: Aggregate => a; case d: Distinct => d }.isDefined
    val offenders = plan.collect {
      case w: Window if w.partitionSpec.isEmpty && !hasAgg(w.child) => w
    }
    assert(offenders.isEmpty,
      s"unpartitioned window(s) over non-aggregated input:\n" +
        offenders.map(_.treeString).mkString("\n"))
  }

  /** `df`'s physical plan is shuffled joins and nothing that multiplies
    * rows on its own: no `Generate` (explode) or `Expand` anywhere, at
    * least one shuffled join, and exactly one shuffle exchange under
    * each side of every shuffled join and none outside them. A
    * pre-pass over the same input (group-size aggregations, salting)
    * cannot hide in such a plan. Call it before `df` runs: under AQE
    * the plan checked is then the initial one, before re-planning. */
  def assertOneShufflePerJoinSide(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def shuffles(p: SparkPlan): Int =
      p.collect { case e: ShuffleExchangeExec => e }.size
    val multipliers = plan.collect {
      case g: GenerateExec => g; case e: ExpandExec => e
    }
    assert(multipliers.isEmpty,
      s"row-multiplying operator(s) in the plan:\n${plan.treeString}")
    val joins = plan.collect {
      case j: SortMergeJoinExec => j; case j: ShuffledHashJoinExec => j
    }
    assert(joins.nonEmpty, s"no shuffled join in the plan:\n${plan.treeString}")
    joins.foreach(j => assert(j.children.forall(shuffles(_) == 1),
      s"join side without exactly one shuffle:\n${j.treeString}"))
    assert(shuffles(plan) == 2 * joins.size,
      s"shuffle outside the join sides:\n${plan.treeString}")
  }
}
