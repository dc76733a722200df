package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column<->Expression converters — the
  * supported seam for libraries that ship custom Catalyst expressions
  * (Spark 4 split the public Column API from catalyst Expressions; this is
  * the classic-session path).
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Blocks until the listener bus has delivered every event posted so far;
    * false when `timeoutMillis` passes first. A query's observed metrics
    * reach `QueryExecutionListener`s through this bus, after the action has
    * returned.
    */
  def drainListenerBus(sc: SparkContext, timeoutMillis: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMillis); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
