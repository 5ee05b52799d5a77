package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `private[sql]` Column ↔ Expression converters — the
  * standard technique third-party Spark packages use to expose native
  * Catalyst expressions as user-facing Columns on Spark 4.x (where Column
  * wraps a ColumnNode rather than an Expression) — and into `ofRows`, which
  * wraps a logical plan (e.g. a DSv2 relation built in code) as a DataFrame.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
