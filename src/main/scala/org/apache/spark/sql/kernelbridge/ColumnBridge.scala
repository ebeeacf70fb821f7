package org.apache.spark.sql.kernelbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Column <-> Catalyst expression conversion for the engine's kernel
  * columns, and a DataFrame over a logical plan (`serveMemory`'s view
  * of its sink). Spark keeps all three `private[sql]`; this object
  * lives under `org.apache.spark.sql` only to reach them. `expression`
  * converts eagerly, so a `lit(...)` argument arrives as a `Literal`
  * that the kernel table can check. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
