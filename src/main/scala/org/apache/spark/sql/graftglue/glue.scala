package org.apache.spark.sql.graftglue

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter,
  ExpressionUtils, UserDefinedFunctionUtils}
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction,
  UserDefinedFunction}

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

  /** The ScalaUDF a Column-API `udf` val plans as, over analyzer-side
    * children — what `spark.udf.register` builds, so one udf val serves
    * both the Column API and SQL. (`expressionOf(u(cols))` is not a
    * substitute: it leaves an unresolved column node that fails codegen.)
    */
  def udfExpression(u: UserDefinedFunction,
                    children: Seq[Expression]): Expression =
    UserDefinedFunctionUtils.toScalaUDF(
      u.asInstanceOf[SparkUserDefinedFunction], children)

  /** The number of arguments a Column-API `udf` val takes. */
  def udfArity(u: UserDefinedFunction): Int =
    u.asInstanceOf[SparkUserDefinedFunction].inputEncoders.length
}
