package graftbench

import org.apache.spark.sql.{Encoders, Row}

import graft.model.DataPoint
import graft.operators.{Ingest, Snapshot}

/** A snapshot store under test, the generated series it holds, and the
  * operations the workloads make on it. Every operation is checked
  * against the series in closed form. */
final class Store(run: Run, val root: String, series: Series) {
  import Store._

  private val committer = Snapshot.committer(run.spark, root)
  private var nextBatch = 0L

  /** Points committed so far: the series prefix `[0, visible)`. */
  var visible = 0

  private def batchOf(until: Int) =
    run.spark.createDataset(series.points(visible, until))(PointEncoder)

  private def hoursOf(until: Int): Seq[Long] =
    Series.hourOf(series.ts(visible)) to Series.hourOf(series.ts(until - 1))

  /** One large commit of the points up to `until`, with its hours given:
    * how the store's history is loaded. */
  def bulk(until: Int): Unit = {
    val ds = batchOf(until)
    val hours = hoursOf(until)
    run.op("bulk", points = until - visible) {
      run.phase("write", "Snapshot.Committer.ingest")(committer.ingest(ds, hours))
    } { gen => (if (gen >= 0) None else Some(s"generation $gen"), None) }
      .foreach(_ => visible = until)
  }

  /** One micro-batch through `Committer.ingestOnce(batch, appId, batchId)`,
    * the call the streaming sink makes per batch. */
  def batch(until: Int, traced: Boolean = true): Unit = {
    val ds = batchOf(until)
    val before = committer.gen
    val id = nextBatch
    // a traced batch reads the log around itself to count the files it
    // added; the untraced run pays nothing for it
    val countFiles = run.args.trace && traced
    val files0 = if (countFiles) liveFiles() else 0
    run.op("batch", traced, points = until - visible) {
      run.phase("write", "Snapshot.Committer.ingestOnce")(
        committer.ingestOnce(ds, AppId, id))
    } { gen =>
      (if (gen == before + 1) None else Some(s"generation $gen after $before"), None)
    }.foreach { _ => visible = until; nextBatch += 1 }
    if (countFiles) batchFiles += liveFiles() - files0
  }

  /** Live files each traced micro-batch added. */
  val batchFiles = scala.collection.mutable.ArrayBuffer.empty[Int]

  /** Compact each of `hours` to one file, then vacuum. Returns the cost of
    * each hour in ms: its compaction wall plus an equal share of the
    * vacuum wall. A traced run also accounts the bytes written before and
    * by the pass. */
  def maintain(hours: Seq[Long]): Seq[Double] = {
    if (run.args.trace) {
      account()
      bytesPerPointPre = bytes()._2.toDouble / visible
    }
    val compactMs = hours.map { h =>
      run.op("compact") {
        run.phase("write", "Snapshot.compactShard")(Snapshot.compactShard(run.spark, root, h))
      } { _ => (None, None) }
      run.ops.last.ms
    }
    run.op("vacuum") {
      run.phase("write", "Snapshot.vacuum")(Snapshot.vacuum(run.spark, root))
    } { n => lastDeleted = n; (None, None) }
    val vacuumMs = run.ops.last.ms
    committer.refresh()
    if (run.args.trace) account()
    compactMs.map(_ + vacuumMs / hours.size)
  }

  /** Data files the last vacuum deleted. */
  var lastDeleted = 0L
  /** Store bytes per point just before the last maintenance pass. */
  var bytesPerPointPre = 0.0
  /** Data bytes written into the store so far, by ingest and compaction. */
  var written = 0L
  private var seen = Map.empty[String, Long]

  /** Add the bytes of the data files that appeared since the last call to
    * [[written]]. File names are unique, so a deleted file never reappears. */
  private def account(): Unit = {
    val now = files().filter(_._1.endsWith(".parquet")).toMap
    written += now.collect { case (f, n) if !seen.contains(f) => n }.sum
    seen ++= now
  }

  /** A read as a serving tier makes it: open the latest generation, then
    * a capped range scan (`hot`, `cold`) or a range aggregate (`stats`)
    * over the inclusive range `[startMs, endMs]`, collected. */
  def read(kind: String, startMs: Long, endMs: Long, traced: Boolean = true): Unit = {
    val spark = run.spark
    run.op(kind, traced) {
      val (gen, opened) = run.phase("open", "Snapshot.readWithGen")(
        Snapshot.readWithGen(spark, root))
      val df =
        if (kind == "stats")
          run.phase("build", "Snapshot.rangeStats")(
            Snapshot.rangeStats(spark, root, startMs, endMs))
        else
          run.phase("build", "Ingest.queryRange")(
            Ingest.queryRange(opened, startMs, endMs, Cap))
      if (run.tracer.active)
        run.phase("plan", "plan.executedPlan")(df.queryExecution.executedPlan)
      val rows = run.phase("exec", "exec.collect")(df.collect())
      (gen, opened, df, rows)
    } { case (gen, opened, df, rows) =>
      val err =
        if (gen < 0) Some("no generation")
        else if (kind == "stats") checkStats(startMs, endMs, rows)
        else checkScan(startMs, endMs, rows)
      val scan =
        if (run.args.trace && traced)
          Some(run.scanInfo(df, opened.inputFiles.length, rows.length.toLong))
        else None
      (err, scan)
    }
  }

  def checkScan(startMs: Long, endMs: Long, rows: Array[Row]): Option[String] = {
    val (lo, hi) = series.indices(startMs, endMs, visible)
    val want = math.min(hi - lo, Cap)
    if (rows.length != want) Some(s"[$startMs, $endMs]: ${rows.length} rows, want $want")
    else rows.indices.find { i =>
      val r = rows(i)
      r.getLong(0) != series.ts(lo + i) || r.getDouble(1) != series.values(lo + i) ||
        r.getString(2) != Metric
    }.map { i =>
      s"[$startMs, $endMs] row $i: ${rows(i)}, want " +
        s"[${series.ts(lo + i)},${series.values(lo + i)},$Metric]"
    }
  }

  def checkStats(startMs: Long, endMs: Long, rows: Array[Row]): Option[String] = {
    val (n, mn, mx) = series.stats(startMs, endMs, visible)
    val got = rows.headOption
    val ok = rows.length == 1 && got.exists { r =>
      r.getLong(0) == n && (
        if (n == 0) r.isNullAt(1) && r.isNullAt(2)
        else r.getDouble(1) == mn && r.getDouble(2) == mx)
    }
    if (ok) None
    else Some(s"stats [$startMs, $endMs]: ${rows.mkString(";")}, want [$n,$mn,$mx]")
  }

  /** `(data file bytes, all bytes)` under the store directory, the
    * manifest included. */
  def bytes(): (Long, Long) = {
    val all = files()
    (all.filter(_._1.endsWith(".parquet")).map(_._2).sum, all.map(_._2).sum)
  }

  /** Bytes under the manifest directory. */
  def logBytes(): Long =
    files().filter(_._1.contains(Snapshot.ManifestDir)).map(_._2).sum

  /** Every regular file under the store as (relative path, bytes). */
  def files(): Seq[(String, Long)] = {
    val base = java.nio.file.Paths.get(root)
    val s = java.nio.file.Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => (base.relativize(p).toString, java.nio.file.Files.size(p))).toList
    } finally s.close()
  }

  def liveFiles(): Int = Snapshot.latest(run.spark, root)._2.size
}

object Store {
  def delete(root: String): Unit = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toList.reverse.foreach(java.nio.file.Files.delete)
    } finally s.close()
  }

  private val PointEncoder = Encoders.product[DataPoint]
  val AppId = "perfbench"
  /** Row cap of every range scan, as in the reference's query API. */
  val Cap = 10000
  val Metric = "cpu.load.avg"
}
