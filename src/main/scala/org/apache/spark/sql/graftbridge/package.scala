package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkStrategy

/** Bridge into the `private[sql]` Column ⇄ Expression converters so graft
  * can expose custom Catalyst expressions as user-facing `Column`s
  * (Spark 4 moved these behind `org.apache.spark.sql.classic`), plus the
  * LogicalPlan ⇄ DataFrame seam for graft's custom plan nodes.
  */
package object graftbridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a (resolved) custom LogicalPlan as a user-facing DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Analyzed plan of a DataFrame (resolved attributes for plan stitching). */
  def analyzed(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Block until every listener event posted so far has been delivered
    * (SparkListeners and QueryExecutionListeners alike).
    */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Register a planner strategy once per session (idempotent). */
  def addStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s)) {
      exp.extraStrategies = exp.extraStrategies :+ s
    }
  }

  /** Register an optimizer rule once per session (idempotent). */
  def addOptimization(spark: SparkSession,
                      r: org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(r)) {
      exp.extraOptimizations = exp.extraOptimizations :+ r
    }
  }
}
