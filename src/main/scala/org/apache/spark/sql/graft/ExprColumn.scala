package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession => ClassicSession}

/** Wraps a Catalyst expression built in code as a `Column`, for native
  * expressions whose state is a constructor field rather than a
  * function argument (see `graft.functions.LiveRowExpr`), and a plan
  * node built in code as a frame. Lives in this package only because
  * Spark keeps these conversions package-private.
  */
object ExprColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)

  /** The (unresolved) Catalyst expression of a `Column`: the child to
    * hand such a native expression. */
  def expr(c: Column): Expression = ExpressionUtils.expression(c)

  /** The Catalyst expression of a `Column`, converted under `spark`'s
    * session. Unlike [[expr]] it leaves no column-node wrapper behind,
    * so it may sit inside a plan node built in code ([[ofRows]]). */
  def planExpr(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[ClassicSession].expression(c)

  /** The frame of a plan built in code, analyzed at once like any
    * Dataset's: an analysis error surfaces here, not at the action. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)
}
