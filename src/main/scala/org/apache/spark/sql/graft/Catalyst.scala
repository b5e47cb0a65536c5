package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Catalyst expressions as Columns and back: Spark keeps these
  * constructors inside `org.apache.spark.sql`, so the library's own
  * expression nodes reach the Dataset API through this object. A Column
  * converts eagerly (`ExpressionUtils.expression` defers it to the
  * Dataset), so the function builders of the SQL registry can use it. */
object Catalyst {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
