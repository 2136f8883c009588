package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column↔Expression converters —
  * the standard way for an extension library to wrap custom Catalyst
  * expressions as user-facing Columns on Spark 4's classic API — and
  * into the `private[spark]` listener bus. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** Blocks until every event posted so far has reached its listeners. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
