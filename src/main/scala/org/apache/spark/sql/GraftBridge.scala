/* Bridge into private[sql] helpers — the standard extension-library
 * pattern for building Columns from custom Catalyst expressions. */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Expression, KnownNotNull}
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias

object GraftBridge {
  type ADT = org.apache.spark.sql.types.AbstractDataType

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `c` declared non-null, for a value the caller knows is set. */
  def knownNotNull(c: Column): Column = column(KnownNotNull(expression(c)))

  /** Build a DataFrame from a custom LogicalPlan (Dataset.ofRows is
    * private[sql]). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Run SQL text whose relation `view._1` binds to the frame `view._2`
    * in the parsed plan rather than to a temp view in the session
    * catalog, so building the query leaves a shared session's catalog
    * alone. */
  def sqlOver(spark: SparkSession, sqlText: String,
      view: (String, DataFrame)): DataFrame =
    ofRows(spark, spark.sessionState.sqlParser.parsePlan(sqlText)
      .transformUp {
        case r: UnresolvedRelation if r.tableName == view._1 =>
          SubqueryAlias(view._1, view._2.queryExecution.analyzed)
      })

  /** A new session on `spark`'s context and shared state that starts
    * from a copy of its session state (confs, functions, planner rules);
    * a conf set on the clone does not reach `spark`. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** The session's Hadoop configuration: the SparkContext's, with the
    * session's `spark.hadoop.*` and SQL overrides applied, as Spark's own
    * file sources read it. */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.sessionState.newHadoopConf()

  /** The cost per opened file and the target partition count that
    * Spark's file sources pack small files under, as
    * `FilePartition.maxSplitBytes` reads them:
    * `spark.sql.files.openCostInBytes`, and
    * `spark.sql.files.minPartitionNum`, else the default parallelism. */
  def filePacking(spark: SparkSession): (Long, Int) = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val c = s.sessionState.conf
    (c.filesOpenCostInBytes,
      c.filesMinPartitionNum.getOrElse(s.leafNodeDefaultParallelism))
  }

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
