package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column↔Expression converters — the one
  * sanctioned way for an extension library to wrap a custom Catalyst
  * expression into the public Column API without a session-bound
  * function registry — and to the `private[spark]` listener bus. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until every posted listener event is delivered, so counts a
    * `SparkListener` took cover all jobs that have already ended. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
