package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryCompilationErrors

/** Bridge to the `private[sql]` Column↔Expression converters (the
  * supported way for libraries to build Columns from custom Catalyst
  * expressions in Spark 4's split sql-api/classic layout), and to the
  * analyzer's wrong-argument-count error for function builders. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `WRONG_NUM_ARGS`: `name` accepts `valid` argument counts. */
  def wrongNumArgs(name: String, valid: Seq[Int], actual: Int): Throwable =
    QueryCompilationErrors.wrongNumArgsError(name, valid, actual)
}
