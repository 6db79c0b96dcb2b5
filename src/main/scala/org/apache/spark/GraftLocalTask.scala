package org.apache.spark

import java.util.concurrent.atomic.AtomicLong

import scala.reflect.ClassTag

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.memory.{MemoryMode, TaskMemoryManager}
import org.apache.spark.rdd.{InputFileBlockHolder, RDD}
import org.apache.spark.util.{BoundedPriorityQueue, Utils}
import org.apache.spark.util.collection.{Utils => CollectionUtils}

/** Bridge into the `private[spark]` task machinery, so that a small read
  * can evaluate its partitions on the calling thread with no Spark job
  * (`graft.plans.LocalCollectExec`). Each partition runs as an executor
  * task would: under its own [[TaskContextImpl]] with a fresh
  * [[TaskMemoryManager]], registered with the block manager, with task
  * completion (and failure) listeners run at its end. Afterwards — on
  * success or failure — its managed memory is freed and its block locks
  * are released, the clean-up an executor makes after every task. This
  * is the only file that constructs a `TaskContextImpl`
  * (`LocalCollectSpec` checks it).
  *
  * Local task attempt ids count down from −2048: the scheduler's ids
  * count up from 0, and −1 and −1024 are the block manager's reserved
  * "no writer" and "non-task writer" ids. */
object GraftLocalTask {
  private val nextTaskId = new AtomicLong(-2048L)

  /** `f` over the iterator of every partition of `rdd`, in partition
    * order, each partition as one local task. */
  def runLocally[T, U: ClassTag](rdd: RDD[T])(f: Iterator[T] => U): Array[U] = {
    val parts = rdd.partitions
    parts.map(p => runPartition(rdd, p, parts.length)(f))
  }

  /** `f` over the iterator of partition `index` of `rdd`, as one local
    * task. */
  def runPartition[T, U](rdd: RDD[T], index: Int)(f: Iterator[T] => U): U = {
    val parts = rdd.partitions
    runPartition(rdd, parts(index), parts.length)(f)
  }

  /** `RDD.takeOrdered(num)(ord)` over `rows` of each partition of `rdd`,
    * every partition run locally: each keeps its `num` least rows in a
    * bounded queue, the queues merge in partition order, and the merged
    * rows sort by `ord`. */
  def takeOrdered[T, U: ClassTag](rdd: RDD[T], num: Int)(rows: Iterator[T] => Iterator[U])(
      ord: Ordering[U]): Array[U] =
    if (num == 0) Array.empty
    else {
      val queues = runLocally(rdd) { items =>
        val queue = new BoundedPriorityQueue[U](num)(ord.reverse)
        queue ++= CollectionUtils.takeOrdered(rows(items), num)(ord)
        queue
      }
      if (queues.isEmpty) Array.empty
      else queues.reduce { (a, b) => a ++= b; a }.toArray.sorted(ord)
    }

  private def runPartition[T, U](rdd: RDD[T], part: Partition,
      numPartitions: Int)(f: Iterator[T] => U): U = {
    val env = SparkEnv.get
    val taskId = nextTaskId.getAndDecrement()
    val memory = new TaskMemoryManager(env.memoryManager, taskId)
    env.blockManager.registerTask(taskId)
    val context = new TaskContextImpl(0, 0, part.index, taskId, 0, numPartitions,
      memory, Utils.cloneProperties(rdd.sparkContext.getLocalProperties),
      env.metricsSystem, TaskMetrics.empty, 1, Map.empty)
    InputFileBlockHolder.initialize()
    TaskContext.setTaskContext(context)
    try {
      // TaskContext.runTaskWithListeners, for a body that is not a Task
      try f(rdd.iterator(part, context))
      catch {
        case e: Throwable =>
          try context.markTaskFailed(e)
          catch { case t: Throwable => e.addSuppressed(t) }
          context.markTaskCompleted(Some(e))
          throw e
      } finally context.markTaskCompleted(None)
    } finally {
      try {
        env.blockManager.memoryStore.releaseUnrollMemoryForThisTask(MemoryMode.ON_HEAP)
        env.blockManager.memoryStore.releaseUnrollMemoryForThisTask(MemoryMode.OFF_HEAP)
        env.memoryManager.synchronized { env.memoryManager.notifyAll() }
      } finally {
        TaskContext.unset()
        InputFileBlockHolder.unset()
        memory.cleanUpAllAllocatedMemory()
        env.blockManager.releaseAllLocksForTask(taskId)
      }
    }
  }
}
