package graftbench

import Stats.{mean, median}

/** A reported metric. */
final case class Metric(name: String, value: Double, unit: String)

/** Turns a finished run into the end-to-end metrics (untraced run) or the
  * per-layer metrics (traced run). */
object Metrics {
  val ReadKinds = Seq("hot", "cold", "stats")

  /** User-visible metrics, the same names on every workload. */
  def endToEnd(run: Run, r: Workloads.Result): Seq[Metric] = {
    val timed = run.ops.filter(o => o.stage == "timed" && o.ok && !o.traced).toList
    def p50(kind: String) = median(timed.filter(_.kind == kind).map(_.ms))
    val batches = run.ops.filter(o => o.kind == "batch" && o.ok && o.stage == r.batchStage)
    Seq(
      Metric("setup_s", median(r.setupMs) / 1000.0, "s"),
      Metric("hot_scan_ms_p50", p50("hot"), "ms"),
      Metric("cold_scan_ms_p50", p50("cold"), "ms"),
      Metric("stats_ms_p50", p50("stats"), "ms"),
      Metric("batch_ms_p50", median(batches.map(_.ms).toList), "ms"),
      Metric("ingest_pps", batches.map(_.points).sum / (batches.map(_.ms).sum / 1000.0), "1/s"),
      Metric("bytes_per_point", r.store.bytes()._2.toDouble / r.store.visible, "B"),
      Metric("maintenance_ms_per_hour", median(r.maintMsPerHour), "ms"))
  }

  /** Per-layer metrics from the traced operations, their spans and the
    * Spark jobs attributed to them. Layers a workload does not exercise
    * report 0. */
  def layers(run: Run, r: Workloads.Result, jobs: Seq[JobRec], spans: Seq[Span]): Seq[Metric] = {
    val traced = run.ops.filter(o => o.traced && o.stage != Workloads.ColdSetup).toList
    val timed = traced.filter(o => o.stage == "timed" && o.ok)
    val reads = timed.filter(o => ReadKinds.contains(o.kind))
    val batches = traced.filter(o => o.kind == "batch" && o.ok && o.stage == r.batchStage)
    val jobsOf = jobs.groupBy(_.op).withDefaultValue(Nil)
    val spansOf = spans.groupBy(_.op).withDefaultValue(Nil)
    val self = Trace.selfTimes(spans)
    def spanMs(ops: Seq[OpRec], names: String*): List[Double] =
      ops.flatMap(o => spansOf(o.id).filter(s => names.contains(s.name)).map(_.ms)).toList
    def jobUnion(o: OpRec): Double =
      Stats.unionLength(jobsOf(o.id).filter(_.endMs >= 0)
        .map(j => (j.startMs.toDouble, j.endMs.toDouble)))
    def perOp(ops: Seq[OpRec])(f: Seq[JobRec] => Double): List[Double] =
      ops.map(o => f(jobsOf(o.id))).toList
    def orZero(v: Double) = if (v.isNaN) 0.0 else v
    def m(name: String, v: Double, unit: String) = Metric(name, orZero(v), unit)

    val statsOps = reads.filter(_.kind == "stats")
    val byKind = ReadKinds.flatMap { k =>
      val ops = reads.filter(_.kind == k)
      val sc = ops.flatMap(_.scan)
      Seq(
        m(s"sources.files_read.$k", median(sc.map(_.filesRead.toDouble)), "count"),
        m(s"sources.files_skipped_frac.$k",
          median(sc.map(s => 1.0 - s.filesRead.toDouble / math.max(1, s.liveFiles))), "frac"),
        m(s"sources.bytes_read.$k", median(perOp(ops)(_.map(_.inputBytes).sum.toDouble)), "B"),
        m(s"sources.rows_read_per_row_returned.$k",
          median(sc.map(s => s.rowsRead.toDouble / math.max(1L, s.rowsReturned))), "ratio"),
        m(s"sources.scan_ms.$k", median(sc.map(_.scanMs.toDouble)), "ms"))
    }
    val scans = reads.flatMap(_.scan)
    val finalData = r.store.bytes()._1
    // share of each timed operation's wall time that its layer spans cover
    val roots = timed.flatMap(o => spansOf(o.id).find(_.name == "op:" + o.kind))
    val cover = 1.0 - roots.map(s => self(s.id)).sum / roots.map(_.ms).sum
    val untraced = run.ops.filter(o => o.stage == "timed" && o.ok && !o.traced)
    val overhead = mean((ReadKinds :+ "batch").flatMap { k =>
      val a = median(timed.filter(_.kind == k).map(_.ms))
      val b = median(untraced.filter(_.kind == k).map(_.ms).toList)
      if (a.isNaN || b.isNaN) None else Some(a / b - 1.0)
    })
    val wall = timed.map(_.ms).sum

    Seq(
      // the first session is built on the cold JVM
      m("GraftSession.build_s", median(run.sessionMs.drop(1).toList) / 1000.0, "s"),
      m("Snapshot.open_ms", median(spanMs(reads, "Snapshot.readWithGen")), "ms"),
      m("Snapshot.stats_plan_ms", median(spanMs(statsOps, "Snapshot.rangeStats")), "ms"),
      m("Snapshot.stats_scan_free_frac",
        statsOps.count(_.scan.exists(!_.hasScan)).toDouble / statsOps.size, "frac"),
      m("Snapshot.log_bytes", r.store.logBytes().toDouble, "B"),
      m("Snapshot.commit_ms", median(batches.map(o =>
        spanMs(Seq(o), "Snapshot.Committer.ingestOnce").sum - jobUnion(o))), "ms"),
      m("Snapshot.live_files", r.store.liveFiles().toDouble, "count"),
      m("Snapshot.compact_ms_per_hour", median(spanMs(traced, "Snapshot.compactShard")), "ms"),
      m("Snapshot.vacuum_ms", median(spanMs(traced, "Snapshot.vacuum")), "ms"),
      m("Snapshot.files_deleted", r.store.lastDeleted.toDouble, "count"),
      m("Ingest.jobs_per_batch", median(perOp(batches)(_.size.toDouble)), "count"),
      m("Ingest.job_ms_per_batch", median(batches.map(jobUnion)), "ms"),
      m("Ingest.files_per_batch", median(r.store.batchFiles.map(_.toDouble).toList), "count"),
      m("Ingest.bytes_per_point_pre", r.store.bytesPerPointPre, "B"),
      m("Ingest.write_amp", r.store.written.toDouble / finalData, "ratio"),
    ) ++ byKind ++ Seq(
      m("plan.analysis_ms", median(scans.map(_.analysisMs.toDouble)), "ms"),
      m("plan.optimizer_ms", median(scans.map(_.optimizerMs.toDouble)), "ms"),
      m("plan.physical_ms", median(scans.map(_.physicalMs.toDouble)), "ms"),
      m("operators.build_ms",
        median(spanMs(reads, "Ingest.queryRange", "Snapshot.rangeStats")), "ms"),
      m("operators.eager_jobs", timed.map(o => jobsOf(o.id)
        .count(j => Set("open", "build", "plan").contains(j.phase))).sum.toDouble, "count"),
      m("exec.jobs", median(perOp(timed)(_.size.toDouble)), "count"),
      m("exec.stages", median(perOp(timed)(_.map(_.stages).sum.toDouble)), "count"),
      m("exec.tasks", median(perOp(timed)(_.map(_.tasks).sum.toDouble)), "count"),
      m("exec.sched_wait_ms", median(perOp(timed)(_.map(_.schedWaitMs).sum.toDouble)), "ms"),
      m("exec.driver_self_ms", median(timed.map(o => o.ms - jobUnion(o))), "ms"),
      m("exec.task_cpu_ms", median(perOp(timed)(_.map(_.cpuNs).sum / 1e6)), "ms"),
      m("exec.cpu_util",
        timed.flatMap(o => jobsOf(o.id)).map(_.cpuNs).sum / 1e6 / (wall * run.cpus), "frac"),
      m("exec.gc_ms", mean(perOp(timed)(_.map(_.gcMs).sum.toDouble)), "ms"),
      m("exec.shuffle_write_bytes",
        mean(perOp(timed)(_.map(_.shuffleWriteBytes).sum.toDouble)), "B"),
      m("exec.shuffle_read_bytes",
        mean(perOp(timed)(_.map(_.shuffleReadBytes).sum.toDouble)), "B"),
      m("exec.spill_bytes", mean(perOp(timed)(_.map(_.spillBytes).sum.toDouble)), "B"),
      m("exec.tasks_failed", jobs.map(_.tasksFailed).sum.toDouble, "count"),
      m("trace.overhead_frac", overhead, "frac"),
      m("trace.self_cover_frac", cover, "frac"))
  }

  /** Median self time of each span name over the traced timed operations:
    * where their wall time goes, layer by layer. */
  def selfByLayer(run: Run, spans: Seq[Span]): Seq[(String, Double)] = {
    val ids = run.ops.filter(o => o.traced && o.stage == "timed" && o.ok).map(_.id).toSet
    val self = Trace.selfTimes(spans)
    spans.filter(s => ids.contains(s.op)).groupBy(s => (s.name, s.op)).toSeq
      .map { case ((name, _), ss) => (name, ss.map(s => self(s.id)).sum) }
      .groupBy(_._1).map { case (name, v) => name -> median(v.map(_._2)) }
      .toSeq.sortBy(_._1)
  }
}
