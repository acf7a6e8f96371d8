package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's private[sql] Column ↔ Expression converters, so graft
  * can expose native Catalyst expressions as user-facing Columns (the same
  * technique Spark extension libraries use on Spark 4's ColumnNode API).
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Run a (possibly custom) logical plan through analysis → DataFrame. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** A Catalyst predicate as a data source filter, when it translates. */
  def translateFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    execution.datasources.DataSourceStrategy.translateFilter(e,
      supportNestedPredicatePushdown = true)

  /** The error a MERGE raises when two source rows match one target row. */
  def mergeCardinalityViolation(): Throwable =
    errors.QueryExecutionErrors.mergeCardinalityViolationError()
}
