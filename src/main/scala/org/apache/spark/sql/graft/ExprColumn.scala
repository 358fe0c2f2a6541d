package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Wraps a Catalyst expression built in code as a `Column`, for native
  * expressions whose state is a constructor field rather than a
  * function argument (see `graft.functions.LiveRowExpr`). Lives in this
  * package only because Spark keeps the conversion package-private.
  */
object ExprColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)

  /** The (unresolved) Catalyst expression of a `Column`: the child to
    * hand such a native expression. */
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}
