package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** The one bridge between graft's native Catalyst expressions and the
  * `Column` API. Spark keeps the Column ↔ Expression conversion
  * `private[sql]`, so an expression that carries a non-expression field
  * (a model `Broadcast`, see [[graft.functions.models]]) can only be
  * wrapped from inside this package; a registered SQL function can pass
  * its builder child expressions only. */
object GraftColumns {

  /** `e` as a column; its unresolved children resolve with the plan. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The (unresolved) expression a column stands for. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
