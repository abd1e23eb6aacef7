package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's custom Catalyst expressions and the public
  * Column API. Spark 4 routes Column construction through ColumnNodes;
  * `classic.ExpressionUtils` is the supported internal conversion —
  * this shim just narrows what we depend on to two calls.
  */
object ExprShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function on a LIVE session (sessionState is
    * private[sql], hence this shim). The SparkSessionExtensions path
    * (graft.GraftExtensions) covers `spark.sql.extensions` users; this
    * covers sessions that already exist.
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        "graft.functions", name),
      builder)

  /** Bounded wait until every queued listener event is delivered —
    * the deterministic replacement for `Thread.sleep` guesses, used by
    * the job progress reporter and the dev probes. `listenerBus` is
    * private[spark], hence the shim. Throws TimeoutException if events
    * keep queueing past `timeoutMs`.
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession,
                       timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
}
