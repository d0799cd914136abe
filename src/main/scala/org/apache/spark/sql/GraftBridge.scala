package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the `private[sql]` and `private[spark]` APIs graft needs,
  * one object per reachable package (the other is
  * `org.apache.spark.ml.clustering.GraftKMeansBridge`, whose constructor
  * is `private[ml]` and so unreachable from here). Everything in graft
  * goes through these two; nothing else non-public is touched. */
object GraftBridge {
  /** Column↔Expression converters — the supported pattern for extension
    * libraries shipping custom Catalyst expressions (Spark 4 wraps
    * Column around ColumnNode, so a plain constructor call no longer
    * exists). */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wraps a custom LogicalPlan into a DataFrame: `Dataset.ofRows` is the
    * only doorway from a hand-built whole-operator node into the public
    * Dataset API. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Blocks until the async listener bus has delivered every queued
    * event, so listener-held counters are complete before they are read.
    * A flush timeout must NOT surface as a failure of the (already
    * successful) query it follows: it is swallowed, and that read may be
    * slightly stale. */
  def flushListeners(sc: SparkContext, timeoutMs: Long = 60000): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
