package org.apache.spark.sql.graftglue

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter,
  ExpressionUtils}

/** Minimal bridge into Spark's `private[sql]` Column<->Expression
  * converters (org.apache.spark.sql.classic.ExpressionUtils). Lives under
  * the org.apache.spark.sql package solely to satisfy the access scope —
  * the standard pattern for libraries providing native Catalyst
  * expressions. No Spark behavior is modified.
  */
object glue {
  def columnOf(e: Expression): Column = ExpressionUtils.column(e)
  def expressionOf(c: Column): Expression = ExpressionUtils.expression(c)

  /** The expression of a Column with its nested Column nodes converted
    * too, as a Dataset operator converts it — for an expression handed to
    * the analyzer directly (a SQL function builder), where
    * `expressionOf` would leave an unevaluable column node inside it.
    */
  def convertedExpressionOf(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)
}
