package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Catalyst expression, for DataFrame helpers that build an
  * expression instance directly instead of calling a function that each
  * session must register first. Lives in this package only because the
  * classic conversions are package-private.
  */
object ExpressionColumn {
  def apply(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
