package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `private[sql]` Dataset constructor so graft's custom
  * logical plans ([[graft.plans.GroupTopKNode]]) can be wrapped as
  * DataFrames — the standard extension-library pattern for planting a
  * custom LogicalPlan without forking Spark. */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A Catalyst expression as a Column: kernels bound to per-call data
    * (trained centroids) are built directly instead of through a
    * function registered in the session. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
