package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** A Catalyst expression as a `Column`. Spark 4 keeps this conversion
  * `private[sql]`; graft's generator builds its native kernels
  * ([[graft.functions.TagHash]], [[graft.functions.OrderFold]]) with it
  * instead of through a registered SQL function name, so they resolve
  * in any session, with or without `GraftExtensions`. */
object GraftColumns {
  def apply(e: Expression): Column = classic.ExpressionUtils.column(e)
}
