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

  /** Spark's `bloom_filter_agg` aggregate — what `stat.bloomFilter`
    * runs (`Column.internalFn` is private[sql]): the serialized filter
    * over `c`, NULL for an empty input.
    */
  def bloomFilterAgg(c: Column, expectedItems: Long, numBits: Long): Column =
    Column.internalFn("bloom_filter_agg", c,
      org.apache.spark.sql.functions.lit(expectedItems),
      org.apache.spark.sql.functions.lit(numBits))

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

  /** Bounded wait until every listener queue is empty, i.e. every
    * event posted so far has been delivered — how
    * [[graft.engine.Metrics]] completes its job ledger before it
    * detaches (Spark posts a job's end event before the action
    * returns). `listenerBus` is private[spark], hence the shim. Throws
    * TimeoutException if a queue is still not empty after `timeoutMs`.
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession,
                       timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
}
