package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.GraftSession

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String, out: String)

/** Scan and planning facts read from one executed read. */
final case class ScanInfo(hasScan: Boolean, filesRead: Long, rowsRead: Long,
    scanMs: Long, liveFiles: Int, rowsReturned: Long,
    analysisMs: Long, optimizerMs: Long, physicalMs: Long)

/** One operation as the harness saw it. `stage` is the part of the run it
  * belongs to: `setup-cold` (the warm-up build on the cold JVM), `setup`,
  * `warm`, `timed`, `maint` or `check`. */
final case class OpRec(id: Long, kind: String, stage: String,
    startMs: Double, endMs: Double, ok: Boolean, traced: Boolean,
    points: Int, scan: Option[ScanInfo]) {
  def ms: Double = endMs - startMs
}

/** State of one benchmark run: the session, every operation it made, and
  * in a traced run the span recorder and the job listener. */
final class Run(val args: Args) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  val tracer = new Tracer(args.trace)
  val listener: Option[OpListener] = if (args.trace) Some(new OpListener) else None
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val failures = mutable.ArrayBuffer.empty[String]
  /** Wall ms of each session build. */
  val sessionMs = mutable.ArrayBuffer.empty[Double]
  var stage: String = Workloads.ColdSetup
  private var sparkV: SparkSession = _
  private var nextOp = 0L

  def spark: SparkSession = sparkV

  /** Build the session the library ships (`GraftSession.local`), stopping
    * the previous one first. */
  def session(): Unit = {
    if (sparkV != null) {
      sparkV.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    tracer.active = true
    tracer.op = nextOp
    nextOp += 1
    val t0 = tracer.nowMs
    sparkV = tracer.span("GraftSession.local")(GraftSession.local(cpus, "perfbench"))
    sessionMs += tracer.nowMs - t0
    tracer.active = false
    listener.foreach { l => l.newContext(); sparkV.sparkContext.addSparkListener(l) }
  }

  /** Run one operation. `body` is timed; `after` runs once the clock has
    * stopped and returns an error for a wrong answer plus, in a traced
    * operation, what the read scanned. An exception from either, or an
    * error, makes the operation failed; failed operations are counted and
    * never dropped. */
  def op[A](kind: String, traced: Boolean = true, points: Int = 0)(body: => A)(
      after: A => (Option[String], Option[ScanInfo])): Option[A] = {
    val id = nextOp
    nextOp += 1
    val on = args.trace && traced
    val sc = spark.sparkContext
    tracer.active = on
    tracer.op = id
    sc.setLocalProperty(OpListener.OpKey, if (on) id.toString else null)
    val start = tracer.nowMs
    val res =
      try Right(tracer.span("op:" + kind)(body))
      catch { case NonFatal(e) => Left(e) }
    val end = tracer.nowMs
    sc.setLocalProperty(OpListener.OpKey, null)
    sc.setLocalProperty(OpListener.PhaseKey, null)
    tracer.active = false
    val (err, scan) = res match {
      case Left(e) => (Some(s"${e.getClass.getName}: ${e.getMessage}"), None)
      case Right(a) =>
        try after(a)
        catch { case NonFatal(e) => (Some(s"check failed: $e"), None) }
    }
    err.foreach(m => failures += s"$kind#$id ($stage): $m".take(400))
    ops += OpRec(id, kind, stage, start, end, err.isEmpty, on, points, scan)
    if (err.isEmpty) res.toOption else None
  }

  /** One call into a layer inside an operation: a span, and in a traced
    * operation the phase tag its Spark jobs carry. */
  def phase[A](step: String, name: String)(body: => A): A =
    if (!tracer.active) body
    else {
      spark.sparkContext.setLocalProperty(OpListener.PhaseKey, step)
      tracer.span(name)(body)
    }

  /** Scan and planning facts of an executed read. */
  def scanInfo(df: DataFrame, liveFiles: Int, rowsReturned: Long): ScanInfo = {
    val scans = Run.Plans.collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    def metric(name: String): Long =
      scans.map(_.metrics.get(name).map(_.value).getOrElse(0L)).sum
    val phases = df.queryExecution.tracker.phases
    def phaseMs(p: String): Long =
      phases.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    ScanInfo(scans.nonEmpty, metric("numFiles"), metric("numOutputRows"),
      metric("scanTime"), liveFiles, rowsReturned,
      phaseMs(QueryPlanningTracker.ANALYSIS),
      phaseMs(QueryPlanningTracker.OPTIMIZATION),
      phaseMs(QueryPlanningTracker.PLANNING))
  }

  /** Every job the listener attributed, once the bus has delivered all
    * events. Empty in an untraced run. */
  def jobs(): Seq[JobRec] = listener match {
    case None => Nil
    case Some(l) =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      l.jobs
  }

  def close(): Unit = if (sparkV != null) sparkV.stop()
}

object Run {
  private object Plans extends AdaptiveSparkPlanHelper
}
