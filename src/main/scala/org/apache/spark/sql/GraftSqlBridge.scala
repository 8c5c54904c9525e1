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

  /** Materialize a DataFrame into persisted RDD blocks and return a
    * DataFrame scanning them plus the RDD handle that frees them.
    *
    * This is what `Dataset.localCheckpoint` does internally, minus its
    * leak: `Dataset.unpersist` only drops CacheManager entries, so the
    * RDD blocks behind a localCheckpoint are unreachable until driver
    * GC + ContextCleaner — an iterative loop that checkpoints every
    * round accumulates every round's blocks. Here the caller holds the
    * RDD and calls `rdd.unpersist()` the moment the round is dead.
    * Blocks materialize lazily — run an action on the returned frame
    * (or `rdd.count()`) before unpersisting its predecessor, so the
    * new round never recomputes through a freed parent. */
  def materialized(df: DataFrame)
      : (DataFrame, org.apache.spark.rdd.RDD[catalyst.InternalRow]) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    // UnsafeRow buffers are reused per partition — copy before caching
    val rdd = ds.queryExecution.toRdd.map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (ds.sparkSession.internalCreateDataFrame(rdd, ds.schema), rdd)
  }
}
