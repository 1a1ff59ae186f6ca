package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst expression for graft.functions' typed kernel
  * builders. Spark keeps both conversions private to its sql package,
  * hence this package. */
object ExprColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
