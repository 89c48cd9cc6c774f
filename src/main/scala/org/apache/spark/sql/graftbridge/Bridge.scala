package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, ExpressionUtils}

/** Spark 4's `Column` wraps a `ColumnNode`, not an `Expression`, and a
  * `Dataset` is built from a `LogicalPlan` only through `classic` factories;
  * the converters live behind `private[sql]`. This bridge (in an
  * `org.apache.spark.sql` subpackage, the standard extension pattern) is the
  * single place graft touches that boundary, used to expose the custom
  * Catalyst expressions in [[graft.functions]] as user-facing `Column`s and
  * the plan node [[graft.operators.Stage]] as a `DataFrame`.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def wrapPlan(df: DataFrame)(node: LogicalPlan => LogicalPlan): DataFrame = {
    val d = ClassicConversions.castToImpl(df)
    Dataset.ofRows(d.sparkSession, node(d.logicalPlan))
  }
}
