package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal accessor for the private[sql] Expression ↔ Column conversions
  * (Spark 4's Column wraps a ColumnNode; the classic converter lives in
  * org.apache.spark.sql.classic). Lives under org.apache.spark.sql.* so
  * the package-private API is reachable — the standard extension-library
  * pattern for custom Catalyst expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzedPlan(df: org.apache.spark.sql.Dataset[_])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Drain the shared listener bus so asynchronously-delivered
    * QueryExecutionListener callbacks (the build-phase plan capture in
    * graft.plans.FallbackInventory) have all fired before the caller
    * reads what they collected. private[spark] API, hence bridged. */
  def waitListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Ids of the RDDs whose blocks the block manager master still
    * tracks. An RDD's blocks leave this set only when it is unpersisted
    * (by a caller, or by the ContextCleaner once the RDD is
    * garbage-collected), and the master drops them synchronously in
    * the unpersist call. private[spark] API, hence bridged. */
  def rddsWithBlocks(spark: org.apache.spark.sql.SparkSession): Set[Int] =
    spark.sparkContext.env.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = false)
      .flatMap(_.asRDDId.map(_.rddId)).toSet
}
