package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one blessed crossing from graft's packages into Spark's
  * `private[sql]` plan constructor: wrap a custom [[LogicalPlan]] as a
  * DataFrame so it flows through the normal analyzer/optimizer/planner.
  * The standard bridge idiom of out-of-tree Spark plan libraries — no
  * Spark internals are modified, only the constructor is re-exported.
  * It also re-exports the error a decimal `sum` raises on overflow under
  * ANSI mode, so a fused aggregate fails the way Sum does.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def sumOverflow(): ArithmeticException =
    errors.QueryExecutionErrors.overflowInSumOfDecimalError(null, "try_sum")
}
