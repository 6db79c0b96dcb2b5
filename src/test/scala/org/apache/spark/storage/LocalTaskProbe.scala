package org.apache.spark.storage

import org.apache.spark.{SparkContext, SparkEnv, TaskContext}
import org.apache.spark.memory.{MemoryConsumer, MemoryMode}

/** Test access to the `private[spark]` state a local task must leave
  * clean: block locks by task, execution memory by task, and the listener
  * bus a job counter reads. */
object LocalTaskProbe {
  private def blocks = SparkEnv.get.blockManager.blockInfoManager

  /** Deliver every event already posted to the listeners. */
  def drainBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def lockCount(taskId: Long): Int = blocks.getTaskLockCount(taskId)

  /** Blocks that some task or thread holds a read or write lock on. */
  def lockedBlocks: Int = blocks.entries.count { case (_, info) =>
    info.readerCount > 0 || info.writerTask != BlockInfo.NO_WRITER
  }

  def executionMemoryUsed: Long = SparkEnv.get.memoryManager.executionMemoryUsed

  /** From inside a task: take a read lock on `block` (an unread block
    * iterator keeps it) and `bytes` of execution memory, as an operator
    * that fails midway would hold them. Returns the task's attempt id. */
  def holdResources(block: BlockId, bytes: Long): Long = {
    val context = TaskContext.get()
    require(SparkEnv.get.blockManager.getLocalValues(block).isDefined, s"$block missing")
    val consumer = new MemoryConsumer(context.taskMemoryManager(), MemoryMode.ON_HEAP) {
      override def spill(size: Long, trigger: MemoryConsumer): Long = 0L
    }
    require(consumer.acquireMemory(bytes) == bytes, s"$bytes B not granted")
    context.taskAttemptId()
  }
}
