package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** The `private[sql]` doorways this library uses. Spark has no public
  * constructor for either:
  *   - a custom [[LogicalPlan]] node as a user-facing [[DataFrame]]: every
  *     extension library that ships its own logical operator (the
  *     documented `SparkSessionExtensions` + `SparkStrategy` path) bridges
  *     through `Dataset.ofRows`;
  *   - a custom Catalyst [[Expression]] as a [[Column]] (and back), so a
  *     library expression is usable without a function-registry entry.
  * Both live in a class placed inside the `org.apache.spark.sql` package
  * tree, which is what this object is. Nothing else in the codebase
  * touches non-public API.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
