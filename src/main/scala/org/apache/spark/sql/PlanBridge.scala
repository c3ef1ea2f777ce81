package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Same-package accessors for the `private[sql]` conversions between
  * logical plans and DataFrames, and between expressions and Columns.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classic.ClassicConversions.castToImpl(spark), plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
