package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** A `Column` over a Catalyst expression, and the expression of a
  * `Column`; Spark keeps both converters package-private. */
object ColumnExpr {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Converted now, not at analysis as `ExpressionUtils.expression`
    * defers it, so a `lit(…)` argument is a foldable `Literal`. */
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
