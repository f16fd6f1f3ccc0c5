package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** graft's bridge to the classic `Column` ↔ Catalyst `Expression`
  * converters, which Spark 4 marks `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`). The object lives in
  * this package purely for access; it contains no Spark-internal logic.
  *
  * Every graft kernel's `Column` entry builds its expression through
  * [[column]], so the kernels run on any session with no extension or
  * function registration.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
