/* Bridge into private[sql] helpers — the standard extension-library
 * pattern for building Columns from custom Catalyst expressions. */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

object GraftBridge {
  type ADT = org.apache.spark.sql.types.AbstractDataType

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom LogicalPlan (Dataset.ofRows is
    * private[sql]). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Post-hoc strategy registration for sessions created without
    * `spark.sql.extensions` (the public experimental-methods hook). */
  def addStrategy(spark: SparkSession,
      s: org.apache.spark.sql.execution.SparkStrategy): Unit =
    if (!spark.experimental.extraStrategies.contains(s))
      spark.experimental.extraStrategies =
        s +: spark.experimental.extraStrategies

  /** Post-hoc function registration for sessions created without
    * `spark.sql.extensions` (same descriptions as GraftExtensions). */
  def registerFunction(spark: SparkSession,
      f: (org.apache.spark.sql.catalyst.FunctionIdentifier,
        org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
        Seq[Expression] => Expression)): Unit =
    spark.sessionState.functionRegistry.registerFunction(f._1, f._2, f._3)
}
