package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.DataPoint
import graft.operators.Snapshot

/** Manifest zone maps (r13): per-file timestamp min/max recorded at
  * commit time and used by [[graft.sources.ManifestFileIndex]] to skip
  * files WITHIN an hour on a pushed timestamp predicate — Delta-style
  * data skipping, planned entirely from the log. The contract under
  * test: skipping never changes results (conservative by construction),
  * files without stats are never pruned, and the stats survive every
  * lifecycle transition (increments, checkpoints, compaction, vacuum)
  * while dying with their tombstoned file. */
class ZoneMapSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val hourMs = 3600000L
  private val baseMs = 1700000000000L - (1700000000000L % hourMs)
  private val hour0 = baseMs / hourMs

  /** `n` points in hour 0 with timestamps exactly [baseMs+lo, baseMs+hi],
    * one parquet file (single partition). */
  private def slice(lo: Long, hi: Long, n: Int = 100) = {
    require(hi > lo && hi < hourMs)
    spark.range(n).select(
      (lit(baseMs + lo) + floor(col("id") * lit(hi - lo) / lit(n - 1)))
        .cast("long").as("timestamp"),
      col("id").cast("double").as("value"),
      lit("cpu").as("metric")).as[DataPoint].repartition(1)
  }

  /** Execute `df` and return how many files the parquet scan READ — the
    * observable the zone maps exist to shrink. */
  private def filesScanned(df: DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no FileSourceScanExec in the executed plan")
    scans.map(_.metrics("numFiles").value).sum
  }

  private def ts = col("timestamp")

  /** Strip the zone-map lines from the store's newest log file, so the
    * files that commit added carry no stats — as commits written before
    * zone maps existed (pre-r13) do. */
  private def dropNewestZoneMaps(store: String): Unit = {
    val mdir = new java.io.File(s"$store/${Snapshot.ManifestDir}")
    val newest = mdir.listFiles().filter(_.getName.matches("[mi][0-9]+"))
      .maxBy(_.getName.drop(1).toLong)
    val kept = scala.io.Source.fromFile(newest).getLines()
      .filterNot(l => l.startsWith("zmap ") || l.startsWith("zmap3 ")).toVector
    Files.write(newest.toPath, kept.mkString("", "\n", "\n").getBytes("UTF-8"))
    // the local ChecksumFileSystem's .crc sidecar would reject the rewrite
    new java.io.File(mdir, s".${newest.getName}.crc").delete()
  }

  test("a pushed timestamp predicate skips non-overlapping files inside " +
      "one hour; results are exact") {
    val store = Files.createTempDirectory("graft_zm1_").toString
    // four single-file commits, disjoint quarter-hour ranges
    Snapshot.ingestCommitted(slice(0L, 899999L), store)
    Snapshot.ingestCommitted(slice(900000L, 1799999L), store)
    Snapshot.ingestCommitted(slice(1800000L, 2699999L), store)
    Snapshot.ingestCommitted(slice(2700000L, 3599999L), store)
    val all = Snapshot.read(spark, store)
    assert(filesScanned(all) == 4 && all.count() == 400)
    // one quarter → one file
    val q2 = Snapshot.read(spark, store)
      .filter(ts >= 900000L + baseMs && ts <= 1799999L + baseMs)
    assert(filesScanned(q2) == 1)
    assert(q2.count() == 100)
    // a range straddling two quarters → two files
    val straddle = Snapshot.read(spark, store)
      .filter(ts.between(1700000L + baseMs, 1900000L + baseMs))
    assert(filesScanned(straddle) == 2)
    // point lookup → one file
    val point = Snapshot.read(spark, store).filter(ts === baseMs + 2700000L)
    assert(filesScanned(point) == 1 && point.count() >= 1)
    // boundary inclusivity: predicate ending EXACTLY on a file's max
    // keeps that file (the reference's inclusive range semantics)
    val edge = Snapshot.read(spark, store).filter(ts <= baseMs + 899999L)
    assert(filesScanned(edge) == 1 && edge.count() == 100)
    // strict < on a file's min excludes it
    val below = Snapshot.read(spark, store).filter(ts < baseMs + 900000L)
    assert(filesScanned(below) == 1)
  }

  test("files committed with stats disabled are never pruned — and never " +
      "break the read") {
    val store = Files.createTempDirectory("graft_zm2_").toString
    Snapshot.ingestCommitted(slice(0L, 899999L), store)
    dropNewestZoneMaps(store)
    Snapshot.ingestCommitted(slice(900000L, 1799999L), store)
    dropNewestZoneMaps(store)
    Snapshot.ingestCommitted(slice(1800000L, 2699999L), store)
    Snapshot.ingestCommitted(slice(2700000L, 3599999L), store)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(Snapshot.loadState(fs, store).zmaps.size == 2,
      "exactly the commits whose log kept its stats should carry zone maps")
    // target the last quarter: its own file plus the two BLIND files
    // must be read (no stats = no skipping), the third is skipped
    val q4 = Snapshot.read(spark, store)
      .filter(ts >= baseMs + 2700000L)
    assert(filesScanned(q4) == 3)
    assert(q4.count() == 100)
  }

  test("zone maps survive compaction + vacuum checkpoints; tombstoned " +
      "files drop theirs; pruning still works on the compacted layout") {
    val store = Files.createTempDirectory("graft_zm3_").toString
    Snapshot.ingestCommitted(slice(0L, 899999L), store)
    Snapshot.ingestCommitted(slice(900000L, 1799999L), store)
    Snapshot.ingestCommitted(slice(1800000L, 2699999L), store)
    Snapshot.ingestCommitted(slice(2700000L, 3599999L), store)
    Snapshot.compactShard(spark, store, hour0, targetFiles = 2)
    Snapshot.vacuum(spark, store, graceMs = 0L)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val st = Snapshot.loadState(fs, store)
    assert(st.live.size == 2)
    assert(st.zmaps.keySet == st.live.toSet,
      "post-vacuum checkpoint must carry stats for exactly the live files")
    // r14 (ADVICE r13): compaction RANGE-partitions rows on timestamp, so
    // the 2 compacted files own disjoint contiguous slices of the hour —
    // intra-hour skipping survives compaction (hash partitioning spread
    // every file across the whole hour, defeating the refreshed stats)
    val q1 = Snapshot.read(spark, store).filter(ts < baseMs + 900000L)
    assert(filesScanned(q1) == 1 && q1.count() == 100,
      "a quarter-hour query on the compacted layout must hit one file")
    // a predicate outside every recorded range scans zero files
    val none = Snapshot.read(spark, store).filter(ts > baseMs + 3599999L)
    none.collect()
    assert(none.count() == 0)
    val counts = Snapshot.read(spark, store)
    assert(counts.count() == 400)
  }

  /** `n` points in hour 0, ts in [baseMs+lo, baseMs+hi], value in
    * [vbase, vbase+n-1] — distinct per-file VALUE ranges for the r14
    * value zone maps. */
  private def vslice(lo: Long, hi: Long, vbase: Double, n: Int = 100) = {
    require(hi > lo && hi < hourMs)
    spark.range(n).select(
      (lit(baseMs + lo) + floor(col("id") * lit(hi - lo) / lit(n - 1)))
        .cast("long").as("timestamp"),
      (lit(vbase) + col("id").cast("double")).as("value"),
      lit("cpu").as("metric")).as[DataPoint].repartition(1)
  }

  test("r14 value zone maps: a pushed value predicate skips files whose " +
      "recorded [min, max] provably misses; composes with ts pruning; " +
      "strict-bound and blind-file conservatism hold") {
    val store = Files.createTempDirectory("graft_zmv_").toString
    // four single-file commits: disjoint ts quarters AND value bands
    Snapshot.ingestCommitted(vslice(0L, 899999L, 0.0), store)
    Snapshot.ingestCommitted(vslice(900000L, 1799999L, 100.0), store)
    Snapshot.ingestCommitted(vslice(1800000L, 2699999L, 200.0), store)
    Snapshot.ingestCommitted(vslice(2700000L, 3599999L, 300.0), store)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val st = Snapshot.loadState(fs, store)
    assert(st.zmaps.size == 4 &&
      st.zmaps.values.forall(z => z.value.isDefined && z.rows == Some(100L)),
      s"every commit should record value range + row count: ${st.zmaps}")
    def v = col("value")
    // top band → one file
    val hi = Snapshot.read(spark, store).filter(v >= 300.0)
    assert(filesScanned(hi) == 1 && hi.count() == 100)
    // interior band → one file
    val mid = Snapshot.read(spark, store).filter(v.between(150.0, 160.0))
    assert(filesScanned(mid) == 1 && mid.count() == 11)
    // equality → one file
    val eq = Snapshot.read(spark, store).filter(v === 250.0)
    assert(filesScanned(eq) == 1 && eq.count() == 1)
    // strict bound lands EXACTLY on a file's max: closed-interval
    // conservatism keeps that file (4 scanned), rows still exact
    val strict = Snapshot.read(spark, store).filter(v > 99.0)
    assert(filesScanned(strict) == 4 && strict.count() == 300)
    // ts AND value prune compose: quarter-2 ts range + top value band
    // provably miss every file — zero rows, and no file survives both
    val both = Snapshot.read(spark, store)
      .filter(ts.between(baseMs + 900000L, baseMs + 1799999L) && v >= 300.0)
    assert(both.count() == 0)
    assert(filesScanned(
      Snapshot.read(spark, store).filter(ts >= baseMs + 2700000L && v >= 300.0))
      == 1)
    // a blind file (its commit logged no stats) is never pruned by a
    // value predicate
    Snapshot.ingestCommitted(vslice(0L, 899999L, 400.0), store)
    dropNewestZoneMaps(store)
    val hi2 = Snapshot.read(spark, store).filter(v >= 300.0)
    assert(filesScanned(hi2) == 2 && hi2.count() == 200,
      "blind file must be scanned; value-banded file still pruned")
  }

  test("one extractor bounds both stat columns: literal-first comparisons, " +
      "IN lists, strict bounds at the Long extremes and NaN literals plan " +
      "like their normal forms; no file holding a matching row is skipped") {
    val store = Files.createTempDirectory("graft_zmx_").toString
    // four single-file commits: ts quarter q holds values [100q, 100q+99]
    (0 until 4).foreach { q =>
      Snapshot.ingestCommitted(
        vslice(q * 900000L, q * 900000L + 899999L, q * 100.0), store)
    }
    def v = col("value")
    def planned(c: Column) = filesScanned(Snapshot.read(spark, store).filter(c))
    val t = baseMs + 900000L // quarter 1's min
    // (filter, its normal form, files both plan)
    val cases: Seq[(String, Column, Column, Long)] = Seq(
      ("t = ts", lit(t) === ts, ts === t, 1L),
      ("t < ts", lit(t) < ts, ts > t, 3L),
      ("t <= ts", lit(t) <= ts, ts >= t, 3L),
      ("t > ts", lit(t) > ts, ts < t, 1L),
      ("t >= ts", lit(t) >= ts, ts <= t, 2L),
      // strict value bounds stay closed: 199.0 is quarter 1's max
      ("199 = v", lit(199.0) === v, v === 199.0, 1L),
      ("199 < v", lit(199.0) < v, v > 199.0, 3L),
      ("199 <= v", lit(199.0) <= v, v >= 199.0, 3L),
      ("199 > v", lit(199.0) > v, v < 199.0, 2L),
      ("199 >= v", lit(199.0) >= v, v <= 199.0, 2L),
      ("ts IN", ts.isin(baseMs + 10L, baseMs + 1000000L, baseMs + 20L),
        ts.between(baseMs + 10L, baseMs + 1000000L), 2L),
      ("v IN", v.isin(250.0, 150.0), v.between(150.0, 250.0), 2L),
      ("ts > MaxValue", ts > Long.MaxValue, ts >= Long.MaxValue, 0L),
      ("ts < MinValue", ts < Long.MinValue, ts <= Long.MinValue, 0L),
      ("ts > MinValue", ts > Long.MinValue, ts >= Long.MinValue + 1, 4L),
      ("ts < MaxValue", ts < Long.MaxValue, ts <= Long.MaxValue - 1, 4L),
      ("v < NaN", ts <= t && v < Double.NaN, ts <= t, 2L),
      ("v > NaN", v > Double.NaN, lit(true), 4L),
      ("v IN with NaN", v.isin(150.0, Double.NaN), lit(true), 4L))
    for ((name, c, normal, files) <- cases) {
      assert(planned(normal) == files, s"$name: normal form")
      assert(planned(c) == files, s"$name: planned ${planned(c)} files, not $files")
    }
    // soundness: every row matching an inclusive range is returned, so
    // every file holding one was planned — point ranges on each file's
    // edges, then random ranges over both columns
    val rows = Snapshot.read(spark, store)
      .select(input_file_name(), ts, v).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val (noT, noV) = ((Long.MinValue, Long.MaxValue),
      (Double.NegativeInfinity, Double.PositiveInfinity))
    val tEdges = (0 until 4).flatMap(q => Seq(q * 900000L, q * 900000L + 899999L))
      .map(baseMs + _)
    val vEdges = (0 until 4).flatMap(q => Seq(q * 100.0, q * 100.0 + 99.0))
    val rnd = new scala.util.Random(13L)
    def pick[A](edges: Seq[A], any: => A): A =
      if (rnd.nextBoolean()) edges(rnd.nextInt(edges.size)) else any
    def sorted[A: Ordering](x: A, y: A) = if (Ordering[A].lteq(x, y)) (x, y) else (y, x)
    val ranges = tEdges.map(e => ((e, e), noV)) ++ vEdges.map(x => (noT, (x, x))) ++
      Seq.fill(24) {
        def tAt = pick(tEdges, baseMs + rnd.nextLong(3600000L)) + rnd.between(-1L, 2L)
        def vAt = pick(vEdges, rnd.nextDouble() * 400.0)
        (sorted(tAt, tAt), if (rnd.nextBoolean()) noV else sorted(vAt, vAt))
      }
    for (((a, b), (lo, hi)) <- ranges) {
      val hit = rows.filter { case (_, at, x) => at >= a && at <= b && x >= lo && x <= hi }
      val q = Snapshot.read(spark, store).filter(ts.between(a, b) && v.between(lo, hi))
      assert(q.count() == hit.length, s"ts [$a, $b] value [$lo, $hi]")
      assert(filesScanned(q) >= hit.map(_._1).distinct.length)
    }
  }

  test("Committer increments carry zone maps; a replayed reader prunes " +
      "from them") {
    val store = Files.createTempDirectory("graft_zm4_").toString
    val c = Snapshot.committer(spark, store)
    c.ingest(slice(0L, 899999L))
    c.ingest(slice(900000L, 1799999L))
    c.ingest(slice(1800000L, 2699999L))
    val q = Snapshot.read(spark, store)
      .filter(ts.between(baseMs, baseMs + 899999L))
    assert(filesScanned(q) == 1 && q.count() == 100)
    c.ingest(slice(2700000L, 3599999L))
    val q4 = Snapshot.read(spark, store).filter(ts >= baseMs + 2700000L)
    assert(filesScanned(q4) == 1 && q4.count() == 100)
  }

  test("the streaming snapshot sink records zone maps per micro-batch " +
      "commit; the store prunes from them") {
    val store = Files.createTempDirectory("graft_zm6_").toString
    val ckpt = Files.createTempDirectory("graft_zm6_ck_").toString
    val src = Files.createTempDirectory("graft_zm6_src_").toString
    // two files = two micro-batches (maxFilesPerTrigger=1), disjoint ts
    slice(0L, 899999L).write.parquet(s"$src/b0")
    slice(900000L, 1799999L).write.parquet(s"$src/b1")
    val stream = spark.readStream
      .schema(graft.model.dataPointSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$src/*")
      .as[DataPoint]
    graft.streaming.StreamingIngest
      .snapshotSinkStream(stream, store, ckpt, appId = "zm6")
      .awaitTermination()
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val st = Snapshot.loadState(fs, store)
    assert(st.live.nonEmpty && st.zmaps.keySet == st.live.toSet,
      "every streamed file should carry a zone map")
    val q = Snapshot.read(spark, store)
      .filter(ts.between(baseMs, baseMs + 899999L))
    assert(q.count() == 100)
    assert(filesScanned(q) < st.live.size,
      "the ts predicate should skip at least one streamed file")
  }

  test("pruning composes with hour partition pruning and ignores " +
      "non-timestamp predicates") {
    val store = Files.createTempDirectory("graft_zm5_").toString
    Snapshot.ingestCommitted(slice(0L, 899999L), store)
    Snapshot.ingestCommitted(slice(900000L, 1799999L), store)
    // second hour: one file
    val h1 = spark.range(100).select(
      (lit(baseMs + hourMs) + col("id")).as("timestamp"),
      col("id").cast("double").as("value"),
      lit("mem").as("metric")).as[DataPoint].repartition(1)
    Snapshot.ingestCommitted(h1, store)
    // hour filter + ts filter: partition pruning drops hour 1, zone maps
    // drop the second hour-0 file
    val q = Snapshot.read(spark, store)
      .filter(col("shard_hour") === hour0 && ts < baseMs + 900000L)
    assert(filesScanned(q) == 1 && q.count() == 100)
    // metric predicate alone derives no ts bound: all files scanned,
    // rows still exact
    val m = Snapshot.read(spark, store).filter(col("metric") === "mem")
    assert(filesScanned(m) == 3 && m.count() == 100)
  }
}
