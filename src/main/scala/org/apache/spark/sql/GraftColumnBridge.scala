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

  /** Release the cached blocks behind a `localCheckpoint()`ed frame.
    * `Dataset.unpersist` only clears CacheManager entries (`.persist`/
    * `.cache`); a local checkpoint persists the UNDERLYING RDD directly,
    * so iterative operators that re-checkpoint per round would otherwise
    * pin every superseded round's blocks for the life of the session —
    * a real leak on a long-running cluster job. No-op on frames that
    * aren't checkpoint-backed.
    *
    * SEMANTICS: walks the WHOLE analyzed plan and unpersists EVERY
    * `LogicalRDD` it finds — not just "the checkpoint behind" the frame.
    * Local-checkpoint blocks are unrecoverable after unpersist (lineage
    * is truncated), so passing a frame whose plan references a checkpoint
    * that is still live elsewhere (e.g. a join of two checkpointed
    * frames, only one of which is superseded) hard-fails LATER with
    * "checkpoint block not found", not a recompute. Only call this on
    * single-checkpoint views whose every reachable checkpoint is dead. */
  def releaseLocalCheckpoint(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

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
