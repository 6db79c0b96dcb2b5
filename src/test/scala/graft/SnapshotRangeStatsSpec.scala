package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.DataPoint
import graft.operators.{Ingest, Snapshot}

/** Manifest-stats range aggregate (r15, the r14 verdict's top item):
  * `Snapshot.rangeStats` answers count/min/max(value) over a timestamp
  * range from the manifest's zmap3 stats wherever every overlapping
  * file's stats suffice, scanning ONLY the rest. Contracts under test:
  *  - bit-identical to the full-scan aggregate on every range shape
  *    (fully covered, boundary-split, empty, stat-less);
  *  - a fully-covered range plans ZERO file scans (LocalRelation);
  *  - a boundary range scans only the boundary files;
  *  - NaN-carrying and ±0.0-bounded files fall back to the scan side
  *    (footer stats cannot answer them exactly — see rangeStats docs);
  *  - a directory with no manifest is refused until `Snapshot.commit`
  *    adopts it.
  */
class SnapshotRangeStatsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val hourMs = 3600000L
  private val baseMs = 1700000000000L - (1700000000000L % hourMs)

  private def slice(lo: Long, hi: Long, n: Int = 100, vOff: Double = 0.0) = {
    require(hi > lo && hi < hourMs)
    spark.range(n).select(
      (lit(baseMs + lo) + floor(col("id") * lit(hi - lo) / lit(n - 1)))
        .cast("long").as("timestamp"),
      (col("id").cast("double") + lit(vOff)).as("value"),
      lit("cpu").as("metric")).as[DataPoint].repartition(1)
  }

  /** Reference answer: the plain full-scan aggregate over the snapshot
    * read — exactly what rangeStats must reproduce. */
  private def scanRef(store: String, lo: Long, hi: Long): (Long, Any, Any) = {
    val r = Snapshot.read(spark, store)
      .filter(col("timestamp").between(lo, hi))
      .agg(count(lit(1)), min(col("value")), max(col("value")))
      .collect()(0)
    (r.getLong(0), r.get(1), r.get(2))
  }

  private def statsOf(store: String, lo: Long, hi: Long): (DataFrame, (Long, Any, Any)) = {
    val df = Snapshot.rangeStats(spark, store, lo, hi)
    val r = df.collect()(0)
    (df, (r.getLong(0), r.get(1), r.get(2)))
  }

  /** NaN-tolerant equality on the (n, min, max) triple. */
  private def sameAnswer(a: (Long, Any, Any), b: (Long, Any, Any)): Boolean = {
    def eqv(x: Any, y: Any): Boolean = (x, y) match {
      case (null, null) => true
      case (xd: Double, yd: Double) => java.lang.Double.compare(xd, yd) == 0
      case _ => x == y
    }
    a._1 == b._1 && eqv(a._2, b._2) && eqv(a._3, b._3)
  }

  /** All FileSourceScanExec nodes, descending through AQE wrappers
    * (AdaptiveSparkPlanExec has no children, so a plain collect misses
    * everything under it once the plan has an exchange). */
  private def scanNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scanNodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scanNodes(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scanNodes)
    }

  /** Files the scan PLANNED (post partition-pruning + zone-map
    * listFiles pruning). selectedPartitions, not the numFiles metric:
    * under AQE the driver metric is posted once per (re)planning pass,
    * so its accumulator can read 2× the true count. */
  private def filesScanned(df: DataFrame): Long =
    scanNodes(df.queryExecution.executedPlan)
      .map(_.selectedPartitions.totalNumberOfFiles).sum

  test("fully-covered range answers from metadata with zero file scans") {
    val store = Files.createTempDirectory("graft_rs1_").toString
    Snapshot.ingestCommitted(slice(0L, 899999L, vOff = 10.0), store)
    Snapshot.ingestCommitted(slice(900000L, 1799999L, vOff = 500.0), store)
    Snapshot.ingestCommitted(slice(1800000L, 2699999L, vOff = -300.0), store)
    val (df, got) = statsOf(store, baseMs, baseMs + hourMs)
    assert(sameAnswer(got, scanRef(store, baseMs, baseMs + hourMs)))
    // the whole answer came from the manifest: no parquet scan planned
    assert(scanNodes(df.queryExecution.executedPlan).isEmpty,
      s"expected a scan-free plan, got:\n${df.queryExecution.executedPlan}")
    // full-store default range answers from metadata too
    val (df2, got2) = statsOf(store, Long.MinValue, Long.MaxValue)
    assert(sameAnswer(got2,
      scanRef(store, Long.MinValue, Long.MaxValue)))
    assert(scanNodes(df2.queryExecution.executedPlan).isEmpty)
  }

  test("boundary range scans only the boundary file and combines exactly") {
    val store = Files.createTempDirectory("graft_rs2_").toString
    // nonzero vOff everywhere: a 0.0 value bound deliberately trips the
    // ±0.0 scan-fallback guard (covered by its own test below)
    Snapshot.ingestCommitted(slice(0L, 899999L, vOff = 1.0), store)
    Snapshot.ingestCommitted(slice(900000L, 1799999L, vOff = 2.0), store)
    Snapshot.ingestCommitted(slice(1800000L, 2699999L, vOff = 3.0), store)
    // range covers file 1 fully, cuts into file 2, misses file 3
    val (lo, hi) = (baseMs, baseMs + 1200000L)
    val (df, got) = statsOf(store, lo, hi)
    assert(sameAnswer(got, scanRef(store, lo, hi)))
    assert(filesScanned(df) == 1L,
      s"expected exactly the boundary file scanned:\n${df.queryExecution.executedPlan}")
  }

  test("empty range answers (0, null, null) from metadata") {
    val store = Files.createTempDirectory("graft_rs3_").toString
    Snapshot.ingestCommitted(slice(0L, 899999L), store)
    val (df, got) = statsOf(store, baseMs + 2000000L, baseMs + 3000000L)
    assert(got == ((0L, null, null)))
    assert(sameAnswer(got, scanRef(store, baseMs + 2000000L, baseMs + 3000000L)))
    assert(scanNodes(df.queryExecution.executedPlan).isEmpty)
  }

  test("NaN-carrying file falls back to the scan side; answer matches scan") {
    val store = Files.createTempDirectory("graft_rs4_").toString
    Snapshot.ingestCommitted(slice(0L, 899999L, vOff = 7.0), store)
    val nanPts = spark.range(10).select(
      (lit(baseMs + 900000L) + col("id") * 1000L).cast("long").as("timestamp"),
      when(col("id") === 5, lit(Double.NaN))
        .otherwise(col("id").cast("double") + lit(3.0)).as("value"),
      lit("cpu").as("metric")).as[DataPoint].repartition(1)
    Snapshot.ingestCommitted(nanPts, store)
    val (df, got) = statsOf(store, baseMs, baseMs + hourMs)
    val ref = scanRef(store, baseMs, baseMs + hourMs)
    assert(sameAnswer(got, ref),
      s"rangeStats $got must equal the scan answer $ref (max must be NaN)")
    assert(ref._3.asInstanceOf[Double].isNaN, "test setup: scan max is NaN")
    assert(filesScanned(df) == 1L,
      "the NaN file (and only it) must be scanned")
  }

  test("±0.0-bounded files fall back to the scan side") {
    val store = Files.createTempDirectory("graft_rs5_").toString
    Snapshot.ingestCommitted(slice(0L, 899999L, vOff = 7.0), store)
    val zeroPts = spark.range(10).select(
      (lit(baseMs + 900000L) + col("id") * 1000L).cast("long").as("timestamp"),
      lit(-0.0).as("value"),
      lit("cpu").as("metric")).as[DataPoint].repartition(1)
    Snapshot.ingestCommitted(zeroPts, store)
    val (df, got) = statsOf(store, baseMs, baseMs + hourMs)
    assert(sameAnswer(got, scanRef(store, baseMs, baseMs + hourMs)))
    assert(filesScanned(df) == 1L,
      "the zero-bounded file (and only it) must be scanned")
  }

  test("a manifest-free store is refused; once adopted, stats match the scan") {
    val store = Files.createTempDirectory("graft_rs6_").toString
    Ingest.writeStore(slice(0L, 899999L, vOff = 2.5).toDF(), store)
    val e = intercept[IllegalArgumentException](
      Snapshot.rangeStats(spark, store, baseMs, baseMs + hourMs))
    assert(e.getMessage.contains("Snapshot.commit"), e.getMessage)
    Snapshot.commit(spark, store)
    val (_, got) = statsOf(store, baseMs, baseMs + hourMs)
    assert(got._1 == 100L && sameAnswer(got, scanRef(store, baseMs, baseMs + hourMs)))
  }

  test("rangeStats over a compacted + vacuumed store still matches the scan") {
    val store = Files.createTempDirectory("graft_rs7_").toString
    Snapshot.ingestCommitted(slice(0L, 899999L, vOff = 5.0), store)
    Snapshot.ingestCommitted(slice(900000L, 1799999L, vOff = 44.0), store)
    Snapshot.compactShard(spark, store, baseMs / hourMs, targetFiles = 1)
    Snapshot.vacuum(spark, store)
    val (df, got) = statsOf(store, baseMs, baseMs + hourMs)
    assert(sameAnswer(got, scanRef(store, baseMs, baseMs + hourMs)))
    assert(scanNodes(df.queryExecution.executedPlan).isEmpty,
      "compaction refreshes zmap3 stats, so metadata still answers")
  }

  test("rangeStats over an opened frame is bit-equal to rangeStats over " +
      "the root, reads no log, and falls back to a scan for other frames") {
    def raw(r: org.apache.spark.sql.Row): Seq[Any] = r.toSeq.map {
      case d: Double => ("double", java.lang.Double.doubleToRawLongBits(d))
      case v => v
    }
    val store = Files.createTempDirectory("graft_rs8_").toString
    Snapshot.ingestCommitted(slice(0L, 899999L, vOff = 1.0), store)
    Snapshot.ingestCommitted(slice(900000L, 1799999L, vOff = 2.0), store)
    // a ±0.0-bounded file, a NaN file and a −0.0/+0.0 pair in one file
    Snapshot.ingestCommitted(spark.range(10).select(
      (lit(baseMs + 1800000L) + col("id") * 1000L).cast("long").as("timestamp"),
      lit(-0.0).as("value"), lit("cpu").as("metric")).as[DataPoint].repartition(1), store)
    Snapshot.ingestCommitted(spark.range(10).select(
      (lit(baseMs + 1900000L) + col("id") * 1000L).cast("long").as("timestamp"),
      when(col("id") === 5, lit(Double.NaN)).otherwise(col("id").cast("double"))
        .as("value"), lit("cpu").as("metric")).as[DataPoint].repartition(1), store)
    Snapshot.ingestCommitted(spark.range(4).select(
      (lit(baseMs + 2000000L) + col("id") * 1000L).cast("long").as("timestamp"),
      when(col("id") % 2 === 0, lit(-0.0)).otherwise(lit(0.0)).as("value"),
      lit("cpu").as("metric")).as[DataPoint].repartition(1), store)
    val opened = Snapshot.read(spark, store)
    val ranges = Seq((Long.MinValue, Long.MaxValue), (baseMs, baseMs + hourMs),
      (baseMs, baseMs + 1200000L), (baseMs + 500000L, baseMs + 1850000L),
      (baseMs + 1800000L, baseMs + 2001000L), (baseMs + 1905000L, baseMs + 1905000L),
      (baseMs + 2000000L, baseMs + 2003000L), (baseMs + 3000000L, baseMs + 3100000L))
    val byRoot = ranges.map { case (lo, hi) =>
      raw(Snapshot.rangeStats(spark, store, lo, hi).collect()(0)) }
    ranges.zip(byRoot).foreach { case ((lo, hi), want) =>
      assert(raw(Snapshot.rangeStats(opened, lo, hi).collect()(0)) == want, s"[$lo, $hi]")
    }
    // no log read: the answers hold with the manifest gone
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(store, Snapshot.ManifestDir))
    ranges.zip(byRoot).foreach { case ((lo, hi), want) =>
      assert(raw(Snapshot.rangeStats(opened, lo, hi).collect()(0)) == want, s"[$lo, $hi]")
    }
    // a filtered frame aggregates what it holds
    val (lo, hi) = (baseMs, baseMs + hourMs)
    val kept = opened.filter(col("value") > 1.5)
    val filtered = Snapshot.rangeStats(kept, lo, hi)
    assert(filesScanned(filtered) > 0L)
    assert(raw(filtered.collect()(0)) == raw(kept.filter(col("timestamp").between(lo, hi))
      .agg(count(lit(1)), min(col("value")), max(col("value"))).collect()(0)))
    // a directory with no manifest has no frame to aggregate: both the
    // read that would open one and the root overload refuse it
    val plain = Files.createTempDirectory("graft_rs9_").toString
    Ingest.writeStore(slice(0L, 899999L, vOff = 2.5).toDF(), plain)
    Seq[() => Any](() => Snapshot.read(spark, plain),
        () => Snapshot.rangeStats(spark, plain, lo, hi)).foreach { run =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("Snapshot.commit"), e.getMessage)
    }
  }
}
