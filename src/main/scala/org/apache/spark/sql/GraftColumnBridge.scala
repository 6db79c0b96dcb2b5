package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * standard technique for out-of-tree Catalyst expressions (the underlying
  * API is stable; only its Scala access modifier hides it). */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame from a (possibly custom) logical plan. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Close every loaded state-store provider and stop the maintenance
    * task. REQUIRED before JVM exit in any process that ran a stateful
    * stream on `RocksDBStateStoreProvider`: Spark caches providers for
    * reuse and never closes them on `StreamingQuery.stop()` or
    * `SparkSession.stop()`, so RocksDB's NATIVE background compaction
    * threads outlive `DestroyJavaVM` and segfault the shutdown when they
    * try to log through the JNI callback ("JniUtil::getJniEnv - Fatal:
    * could not attach current thread to JVM", observed at a 10 M-key
    * scd2 stream — the work completes, the exit code is 134). Closing
    * the providers cancels RocksDB background work while the JVM is
    * still alive. Safe to call when nothing is loaded. */
  def stopStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

  /** Register an extra planner strategy on a live session unless its
    * planner already holds it (injected by an extension, or added
    * before). */
  def addStrategy(spark: SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.sessionState.planner.strategies.contains(strategy))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ strategy
  }
}
