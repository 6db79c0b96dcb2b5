package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** What one Spark job did, attributed to the benchmark operation that
  * submitted it. `phase` is the harness step the job started in (`open`,
  * `build`, `plan`, `exec`, `write`, ...): a job started before `exec` ran
  * while the DataFrame was being built. */
final class JobRec(val jobId: Int, val op: Long, val phase: String,
    val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var tasksFailed = 0
  var firstLaunchMs: Long = Long.MaxValue
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L

  /** Submission to first task launch: time the job waited on the
    * scheduler before any of its work ran. */
  def schedWaitMs: Long =
    if (firstLaunchMs == Long.MaxValue) 0L else math.max(0L, firstLaunchMs - startMs)
}

/** Maps jobs, stages and tasks back to the operation that caused them.
  * The harness puts the operation id in the Spark local property
  * [[OpListener.OpKey]] before each call into the engine; Spark copies
  * local properties onto every job the calling thread submits. Events
  * without the property (Spark's own housekeeping, untraced operations)
  * are ignored. */
final class OpListener extends SparkListener {
  private val all = mutable.ArrayBuffer.empty[JobRec]
  private val byJob = mutable.Map.empty[Int, JobRec]
  private val byStage = mutable.Map.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(OpListener.OpKey))).foreach { op =>
      val phase = props.flatMap(p => Option(p.getProperty(OpListener.PhaseKey)))
        .getOrElse("")
      val r = new JobRec(e.jobId, op.toLong, phase, e.time)
      all += r
      byJob(e.jobId) = r
      e.stageIds.foreach(byStage(_) = r)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byJob.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    byStage.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    byStage.get(e.stageId).foreach { r =>
      r.firstLaunchMs = math.min(r.firstLaunchMs, e.taskInfo.launchTime)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    byStage.get(e.stageId).foreach { r =>
      r.tasks += 1
      if (!e.taskInfo.successful) r.tasksFailed += 1
      Option(e.taskMetrics).foreach { m =>
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        r.spillBytes += m.diskBytesSpilled
        r.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Forget job and stage ids before a new SparkContext reuses them;
    * records already made are kept. */
  def newContext(): Unit = synchronized { byJob.clear(); byStage.clear() }

  def jobs: Seq[JobRec] = synchronized(all.toList)
}

object OpListener {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
}
