package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Package-private accessors Spark 4 hides behind `private[sql]`,
  * needed to wrap a custom catalyst Expression as a user-facing Column
  * and a custom LogicalPlan as a user-facing DataFrame (the documented
  * patterns for native extension libraries). Kept to the accessors
  * below — nothing else of the internal API is exposed. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap an (already-resolved) logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Wait until the listener bus has delivered every event posted so
    * far — an action can return before its job, stage and execution-end
    * events are delivered. False when it did not drain in `timeoutMs`. */
  def drainListeners(spark: SparkSession, timeoutMs: Long = 60000): Boolean =
    try { spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }

  /** `DataType.sameType` (nullability-insensitive equality). */
  def sameType(a: types.DataType, b: types.DataType): Boolean = a.sameType(b)
}
