package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.DataPoint
import graft.operators.Snapshot
import graft.streaming.StreamingIngest

/** Streaming parity: the exactly-once snapshot sink and the watermarked
  * tumbling downsample must agree with their batch equivalents on the same
  * data (SURVEY.md §2.2 streaming row).
  */
class StreamingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val points =
    (0 until 5000).map(i => DataPoint(i * 3000L, 50.0 + 20.0 * math.sin(i / 100.0)))

  test("streaming snapshot sink is exactly-once into the manifest store: " +
      "restart continues, checkpoint loss never duplicates") {
    val src = Files.createTempDirectory("graft_snapsink_src_").toString
    val store = Files.createTempDirectory("graft_snapsink_store_").toString
    val ckpt = Files.createTempDirectory("graft_snapsink_ckpt_").toString
    val half = points.take(2500)
    half.toDS().toDF().write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    def stream() = spark.readStream.schema(schema).parquet(src).as[DataPoint]

    val q = StreamingIngest.snapshotSinkStream(stream(), store, ckpt.toString)
    q.awaitTermination(120000)
    // reads go through the MANIFEST (snapshot store, not a plain dir)
    assert(Snapshot.hasManifest(spark, store))
    assert(Snapshot.read(spark, store).count() == half.size)

    // restart with more source data: the checkpoint resumes, the manifest
    // commits exactly the new batches
    points.drop(2500).toDS().toDF().write.mode("append").parquet(src)
    val q2 = StreamingIngest.snapshotSinkStream(stream(), store, ckpt.toString)
    q2.awaitTermination(120000)
    assert(Snapshot.read(spark, store).count() == points.size)
    // no (timestamp, metric) pair landed twice
    assert(Snapshot.read(spark, store)
      .groupBy("timestamp", "metric").count()
      .filter(col("count") > 1).count() == 0)
    // every point landed in its hour shard
    assert(Snapshot.read(spark, store).select("shard_hour").distinct().count() ==
      points.map(_.timestamp / 3600000L).distinct.size)

    // disaster case: the CHECKPOINT is lost but the store survives. A
    // fresh checkpoint re-delivers everything as new batch ids starting
    // at 0 — the manifest's txn high-water (batches 0..k committed)
    // refuses them all: at-most-once on checkpoint loss, never duplicates
    val ckpt2 = Files.createTempDirectory("graft_snapsink_ckpt2_").toString
    val q3 = StreamingIngest.snapshotSinkStream(stream(), store, ckpt2.toString)
    q3.awaitTermination(120000)
    assert(Snapshot.read(spark, store).count() == points.size)
  }

  test("watermarked streaming downsample equals the batch aggregation") {
    val src = Files.createTempDirectory("graft_stream_agg_").toString
    points.toDS().toDF()
      .select(timestamp_millis(col("timestamp")).as("ts"), col("value"))
      .write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema

    val streamed = StreamingIngest.downsampleStream(
      spark.readStream.schema(schema).parquet(src))
    val qname = "downsample_out"
    val q = streamed.writeStream.outputMode("complete")
      .format("memory").queryName(qname).start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table(qname)
    val want = spark.read.parquet(src)
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("bucket_us"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("stateful streaming sessionizer emits exactly the batch-closed sessions") {
    import graft.streaming.StreamingIngest.SessionEvent
    val src = Files.createTempDirectory("graft_sess_src_").toString
    // events for the stream: reuse the generated points as (user, ts) pairs
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
    ev.write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val gapUs = 1800000000L

    // huge watermark delay: session-expiry timeouts never fire, so the
    // stream emits ONLY gap-closed sessions — the dangling-final-session
    // expectation below stays exact (expiry itself is covered by the
    // dedicated timeout specs)
    val streamed = graft.streaming.StreamingIngest.sessionizeStream(
      spark.readStream.schema(schema).parquet(src).as[SessionEvent], gapUs,
      watermark = "3650 days")
    val q = streamed.writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sessions_out")
      .select("user_id", "session_start_us", "session_end_us", "n_events")

    // batch sessions, minus each user's final (still-open in the stream) one
    val batch = graft.operators.TimeSeries.sessionize(
      graft.sources.Tables.events(spark, sf0001), gapUs)
    val lastPerUser = batch.groupBy("user_id")
      .agg(max(col("session_start_us")).as("session_start_us"))
    val wantClosed = batch.join(lastPerUser, Seq("user_id", "session_start_us"), "left_anti")
      .select("user_id", "session_start_us", "session_end_us", "n_events")

    assert(got.exceptAll(wantClosed).count() == 0 && wantClosed.exceptAll(got).count() == 0)
    assert(got.count() > 0)
  }

  test("stream-static anomaly flagging equals the batch detector on closed windows") {
    import graft.operators.Analytics
    val src = Files.createTempDirectory("graft_anom_src_").toString
    def mkEvents(rows: Seq[(Int, Double)]) = rows.toDF("hour", "value")
      .select(lit("a").as("event_type"),
        timestamp_micros(col("hour").cast("long") * 3600000000L).as("ts"),
        col("value"))
    val data = (0 until 10).map(h => (h, 10.0)) :+ (10, 1000.0)
    mkEvents(data).write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val baseline = Analytics.momentStats(mkEvents(data))

    val q = StreamingIngest.anomalyStream(
        spark.readStream.schema(schema).parquet(src), baseline,
        threshold = 3.0, watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("anomaly_out").start()
    try {
      q.processAllAvailable()
      // a far-future row advances the watermark past every real window
      mkEvents(Seq((1000, 1.0))).write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("anomaly_out")
      .filter(col("bucket_us") < 1000L * 3600000000L)
      .orderBy("bucket_us").collect().toSeq
    val batch = Analytics.anomalyZScore(mkEvents(data), 3.0)
      .select("event_type", "bucket_us", "hourly_sum", "zscore")
      .orderBy("bucket_us").collect().toSeq
    assert(batch.nonEmpty, "batch detector must flag the planted spike")
    assert(streamed == batch)
  }

  test("streaming funnel stage machine reproduces the batch funnel counts") {
    import graft.streaming.StreamingIngest.FunnelEvent
    val src = Files.createTempDirectory("graft_funnel_src_").toString
    val rnd = new scala.util.Random(99)
    val rows = Seq.fill(300)(FunnelEvent(
      rnd.nextInt(12).toLong + 1L, "s" + rnd.nextInt(4), rnd.nextInt(500).toLong * 1000000L))
    // split by TIME, not arrival: cross-batch delivery is arrival-order,
    // so exact batch parity needs batches that respect event-time order
    val (batch1, batch2) = rows.partition(_.ts_us < 250L * 1000000L)
    batch1.toDS().write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val stages = Seq("s0", "s1", "s2")
    val horizon = 120L * 1000000L
    val q = StreamingIngest.funnelStream(
        spark.readStream.schema(schema).parquet(src).as[FunnelEvent],
        stages, horizon, watermark = "3650 days")
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_out").start()
    try {
      q.processAllAvailable()
      // one file, so the running stream cannot take part of batch2 in one
      // micro-batch and the rest in the next (a multi-file append lands
      // file by file)
      batch2.toDS().coalesce(1).write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("funnel_out")
      .groupBy("stage_idx").agg(countDistinct(col("user_id")).as("n_users"))
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    // NOTE: arrival order == event-time order only within a batch; feed a
    // batch split that doesn't straddle stage boundaries out of order —
    // with the fixed seed, verify equality against the batch operator
    val batchCounts = graft.operators.Analytics.funnel(
        rows.toDF().select(col("user_id"), col("event_type"),
          timestamp_micros(col("ts_us")).as("ts"), lit(1.0).as("value")),
        stages, horizon)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      .filter(_._2 > 0)
    assert(streamed == batchCounts,
      s"streamed $streamed vs batch $batchCounts")
  }

  test("late event in a later micro-batch joins the open session without rewinding it") {
    import graft.streaming.StreamingIngest.SessionEvent
    val src = Files.createTempDirectory("graft_late_src_").toString
    val gapUs = 10000L
    // batch 1: events at 0 and 5000 (one open session)
    Seq(SessionEvent(1L, 0L), SessionEvent(1L, 5000L)).toDS()
      .write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    // ONE long-lived query; each processAllAvailable drains a micro-batch
    val q = graft.streaming.StreamingIngest.sessionizeStream(
      spark.readStream.schema(schema).parquet(src).as[SessionEvent], gapUs)
      .writeStream.outputMode("append").format("memory")
      .queryName("late_sessions")
      .start()
    try {
      q.processAllAvailable()
      // batch 2: a LATE event (1000, inside the open session) and 12000
      // (12000 - 5000 <= 10000 → still the SAME session; the late event
      // must not rewind last_us and force a false split)
      Seq(SessionEvent(1L, 1000L), SessionEvent(1L, 12000L)).toDS()
        .write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val closed = spark.table("late_sessions")
    assert(closed.count() == 0,
      s"no session should have closed: ${closed.collect().mkString(",")}")
  }

  test("streaming as-of enrichment equals the batch as-of join") {
    import graft.streaming.StreamingAsOf
    val src = Files.createTempDirectory("graft_asof_stream_").toString
    val ev = graft.sources.Tables.events(spark, sf0001)
    val tagged = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        lit(StreamingAsOf.SideProbe).as("side"), col("event_id"),
        lit(0.0).as("value"))
      .unionByName(ev.filter(col("event_type") === "error")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          lit(StreamingAsOf.SideRef).as("side"), lit(0L).as("event_id"),
          col("value")))
    tagged.write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema

    val enriched = StreamingAsOf.asOfStream(
      spark.readStream.schema(schema).parquet(src).as[StreamingAsOf.AsOfEvent])
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("asof_stream_out").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("asof_stream_out")
      .select("event_id", "user_id", "ts_us", "err_ts_us", "err_value")

    // the batch operator on the same inputs (the q_asof_join shape)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
    val want = graft.operators.AsOfJoin.asOf(purchases, errors, "user_id", "ts_us",
        Seq("ts_us" -> "err_ts_us", "value" -> "err_value"))
      .select("event_id", "user_id", "ts_us", "err_ts_us", "err_value")

    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("as-of state pruning keeps the boundary reference so horizon probes still match") {
    import graft.streaming.StreamingAsOf
    val src = Files.createTempDirectory("graft_asof_prune_").toString
    // batch 1: refs at 100 and 200, probe at 1000 (far ahead: prune cutoff
    // = 1000 - 500 = 500; ref 100 is dropped, boundary ref 200 survives)
    Seq(
      StreamingAsOf.tagRef(1L, 100L, 1.0),
      StreamingAsOf.tagRef(1L, 200L, 2.0),
      StreamingAsOf.tagProbe(1L, 1000L, 11L)).toDS()
      .write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = StreamingAsOf.asOfStream(
      spark.readStream.schema(schema).parquet(src).as[StreamingAsOf.AsOfEvent],
      horizonUs = 500L)
      .writeStream.outputMode("append").format("memory")
      .queryName("asof_prune_out").start()
    try {
      q.processAllAvailable()
      // batch 2: a probe at 600 (within horizon) must still match the
      // SURVIVING boundary ref at 200 after batch-1 pruning
      Seq(StreamingAsOf.tagProbe(1L, 600L, 12L)).toDS()
        .write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("asof_prune_out")
      .orderBy("event_id").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Any]("err_ts_us")))
    assert(got.toSeq == Seq((11L, 200L), (12L, 200L)), got.mkString(","))
  }

  test("streaming OHLC bars equal the batch aggregation") {
    val src = Files.createTempDirectory("graft_ohlc_src_").toString
    points.toDS().toDF()
      .select(timestamp_millis(col("timestamp")).as("ts"), col("value"))
      .write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema

    val streamed = StreamingIngest.ohlcStream(
      spark.readStream.schema(schema).parquet(src))
    val q = streamed.writeStream.outputMode("complete")
      .format("memory").queryName("ohlc_out").start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("ohlc_out")
    val want = spark.read.parquet(src)
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("bucket_us"))
      .agg(min_by(col("value"), struct(col("ts"), col("value"))).as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("value"))).as("close"),
        count(lit(1)).as("n_points"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("streaming alert-for fires once per batch episode, at the hour " +
      "the hold duration is first knowable") {
    import graft.streaming.StreamingIngest.AlertEvent
    val hr = 3600000000L
    val src = Files.createTempDirectory("graft_alert_src_").toString
    // type a: breach hours 0-2 (fires at hour 2), gap, breach 5-6 (short,
    // no fire), breach 9-12 (4-long: fires ONCE at hour 11);
    // type b: hour 0 mean exactly 60.00 -> strict > excludes it.
    // base offset: a row AT epoch 0 ties the INITIAL watermark and is
    // dropped as late before any stateful operator sees it
    val base = 1700000000000000L - (1700000000000000L % hr) // hour-aligned
    val rows =
      (Seq(0, 1, 2, 5, 6, 9, 10, 11, 12).map(h => ("a", base + h * hr, 100.0)) :+
        (("a", base + 3 * hr, 1.0)) :+
        (("b", base, 60.0)) :+ (("b", base + 1L, 60.0)))
    rows.map { case (t, ts, v) => AlertEvent(t, ts, v) }.toDS()
      .write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema

    val streamed = graft.streaming.StreamingIngest.alertForStream(
      spark.readStream.schema(schema).parquet(src).as[AlertEvent],
      thresholdCents = 6000L, forHours = 3)
    val q = streamed.writeStream.outputMode("append")
      .format("memory").queryName("alert_out").start()
    try {
      q.processAllAvailable() // batch 0: everything open, wm still epoch
      // sentinel batches advance the watermark so hours finalize: after
      // the first the wm covers hours <= 10, after the second hours <= 12
      Seq(AlertEvent("a", base + 20 * hr, 1.0)).toDS()
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      Seq(AlertEvent("a", base + 21 * hr, 1.0)).toDS()
        .write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("alert_out")
      .orderBy("alert_start_us").collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[Long]("alert_start_us"), r.getAs[Long]("fired_at_us")))
    assert(got.toSeq == Seq(("a", base, base + 2 * hr), ("a", base + 9 * hr, base + 11 * hr)),
      got.mkString(","))
    // parity: every batch episode with n_hours >= forHours has exactly
    // one firing with the same start (the batch operator reports whole
    // episodes; the stream fires at start + (forHours-1) hours)
    val ev = spark.read.parquet(src)
      .select(timestamp_micros(col("ts_us")).as("ts"),
        monotonically_increasing_id().as("event_id"),
        col("value"), col("event_type"))
    val episodes = graft.operators.TimeSeries.alertFor(ev, 6000L, 3)
      .collect().map(r => (r.getAs[String]("event_type"),
        r.getAs[Long]("alert_start_us"))).toSet
    assert(got.map(t => (t._1, t._2)).toSet == episodes)
  }

  test("streaming alert-for survives NaN/Infinity/overflow values and " +
      "matches the batch cast-to-null semantics") {
    import graft.streaming.StreamingIngest.AlertEvent
    val hr = 3600000000L
    val src = Files.createTempDirectory("graft_alert_nan_src_").toString
    val base = 1700000000000000L - (1700000000000000L % hr)
    // hour 0: [100, 100, NaN] -> s=200.00, n=3: 20000 > 6000*3 fires;
    // hour 2: [100, NaN]      -> s=100.00, n=2: 10000 < 12000 no fire;
    // hour 4: [100, +Inf]     -> same dilution, no fire;
    // hour 6: [100, 1e300]    -> overflows decimal(18,2) -> null, no fire
    val rows = Seq(
      ("a", base, 100.0), ("a", base + 1L, 100.0), ("a", base + 2L, Double.NaN),
      ("a", base + 2 * hr, 100.0), ("a", base + 2 * hr + 1L, Double.NaN),
      ("a", base + 4 * hr, 100.0),
      ("a", base + 4 * hr + 1L, Double.PositiveInfinity),
      ("a", base + 6 * hr, 100.0), ("a", base + 6 * hr + 1L, 1e300))
    rows.map { case (t, ts, v) => AlertEvent(t, ts, v) }.toDS()
      .write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema

    val streamed = graft.streaming.StreamingIngest.alertForStream(
      spark.readStream.schema(schema).parquet(src).as[AlertEvent],
      thresholdCents = 6000L, forHours = 1)
    val q = streamed.writeStream.outputMode("append")
      .format("memory").queryName("alert_nan_out").start()
    try {
      q.processAllAvailable()
      Seq(AlertEvent("a", base + 20 * hr, 1.0)).toDS()
        .write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("alert_nan_out")
      .select("alert_start_us").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(base), got.mkString(","))
    // batch parity on the same pathological data
    val ev = spark.read.parquet(src)
      .select(timestamp_micros(col("ts_us")).as("ts"),
        monotonically_increasing_id().as("event_id"),
        col("value"), col("event_type"))
    val episodes = graft.operators.TimeSeries.alertFor(ev, 6000L, 1)
      .filter(col("alert_start_us") < base + 20 * hr)
      .collect().map(_.getAs[Long]("alert_start_us")).sorted.toSeq
    assert(episodes == got, s"batch $episodes vs stream $got")
  }

  test("streaming counter rate equals the batch per-sample increases") {
    import graft.streaming.StreamingIngest.RatePoint
    val src = Files.createTempDirectory("graft_rate_src_").toString
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_type").as("series"), unix_micros(col("ts")).as("ts_us"),
        col("value"))
    ev.write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema

    val streamed = graft.streaming.StreamingIngest.counterRateStream(
      spark.readStream.schema(schema).parquet(src).as[RatePoint])
    val q = streamed.writeStream.outputMode("append")
      .format("memory").queryName("rate_out").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("rate_out").select("series", "ts_us", "inc")

    // batch equivalent: lag over (ts_us, value) per series, reset-aware
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("series")).orderBy(col("ts_us"), col("value"))
    val want = ev
      .withColumn("prev", lag(col("value"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("series"), col("ts_us"),
        when(col("value") >= col("prev"), col("value") - col("prev"))
          .otherwise(col("value")).as("inc"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("streaming holding intervals reproduce the batch time-weighted " +
      "average on closed data") {
    import graft.streaming.StreamingIngest.RatePoint
    val src = Files.createTempDirectory("graft_twa_src_").toString
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_type").as("series"), unix_micros(col("ts")).as("ts_us"),
        col("value"))
    ev.write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema

    val streamed = graft.streaming.StreamingIngest.holdingIntervalStream(
      spark.readStream.schema(schema).parquet(src).as[RatePoint])
    val q = streamed.writeStream.outputMode("append")
      .format("memory").queryName("twa_out").start()
    q.processAllAvailable()
    q.stop()
    // aggregate the emitted intervals exactly like the batch operator
    val got = spark.table("twa_out")
      .groupBy(col("series").as("event_type"))
      .agg(
        (sum(((col("value").cast("decimal(18,2)") * 100).cast("long") *
          col("dur_us")).cast("decimal(38,0)")).cast("double") /
          sum(col("dur_us")).cast("double") / lit(100.0)).as("twa"),
        count(lit(1)).as("n_intervals"))
    // the batch source of truth over the same closed data
    val want = graft.operators.TimeSeries.timeWeightedAvg(
      graft.sources.Tables.events(spark, sf0001))
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("streaming SCD2 closed intervals reproduce the batch build on closed data") {
    import graft.streaming.StreamingIngest.StateEvent
    val src = Files.createTempDirectory("graft_scd2_src_").toString
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_id"),
        col("event_type").as("state_type"), unix_micros(col("ts")).as("ts_us"))
    ev.write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema

    val streamed = graft.streaming.StreamingIngest.scd2Stream(
      spark.readStream.schema(schema).parquet(src).as[StateEvent])
    val q = streamed.writeStream.outputMode("append")
      .format("memory").queryName("scd2_out").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("scd2_out")
      .select(col("user_id"), col("state"), col("valid_from_us"),
        col("valid_to_us"))
    // batch source of truth: its CLOSED intervals (is_current = false)
    val want = graft.operators.Analytics.scd2(
        graft.sources.Tables.events(spark, sf0001))
      .filter(!col("is_current"))
      .select(col("user_id"), col("state"), col("valid_from_us"),
        col("valid_to_us"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("idle session expires on event time: emitted closed, state entry dropped") {
    import graft.streaming.StreamingIngest.SessionEvent
    val src = Files.createTempDirectory("graft_sess_to_").toString
    val t0 = 1700000000000000L // µs
    val gapUs = 10000000L // 10 s
    // batch 1: user 1 opens a session (two events, 1 s apart)
    Seq(SessionEvent(1L, t0), SessionEvent(1L, t0 + 1000000L)).toDS()
      .write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = graft.streaming.StreamingIngest.sessionizeStream(
      spark.readStream.schema(schema).parquet(src).as[SessionEvent], gapUs,
      watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_timeout_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("sess_timeout_out").count() == 0) // still open
      // batch 2: user 2 far in the future — the watermark jumps past
      // user 1's last event + gap, firing the expiry timeout
      Seq(SessionEvent(2L, t0 + 100000000L)).toDS()
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      val got = spark.table("sess_timeout_out").collect()
      assert(got.length == 1, got.mkString(","))
      val r = got.head
      assert(r.getAs[Long]("user_id") == 1L)
      assert(r.getAs[Long]("session_start_us") == t0)
      assert(r.getAs[Long]("session_end_us") == t0 + 1000000L)
      assert(r.getAs[Long]("n_events") == 2L)
      // and the state store holds ONLY user 2's open session
      val lastState = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).get.stateOperators.head
      assert(lastState.numRowsTotal == 1L, s"state rows: ${lastState.numRowsTotal}")
    } finally q.stop()
  }

  test("scd2Stream drops cross-batch stale rows instead of emitting " +
      "inverted intervals") {
    import graft.streaming.StreamingIngest.StateEvent
    val hr = 3600000000L
    val base = 1700000000000000L - (1700000000000000L % hr)
    val src = Files.createTempDirectory("graft_scd2_stale_src_").toString
    // batch 0: A at h0, B at h2 (closes A). batch 1: stale C at h1 —
    // inside the 3h watermark horizon but OLDER than the open interval's
    // start; must drop (pre-fix it closed B at h1 < h2: inverted).
    // batch 2: A at h4 closes B normally.
    Seq(StateEvent(1L, 0L, "A", base), StateEvent(1L, 1L, "B", base + 2 * hr))
      .toDS().write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = graft.streaming.StreamingIngest.scd2Stream(
      spark.readStream.schema(schema).parquet(src).as[StateEvent],
      watermark = "3 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("scd2_stale_out").start()
    try {
      q.processAllAvailable()
      Seq(StateEvent(1L, 2L, "C", base + 1 * hr)).toDS()
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      Seq(StateEvent(1L, 3L, "A", base + 4 * hr)).toDS()
        .write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("scd2_stale_out")
      .select("state", "valid_from_us", "valid_to_us")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("A", base, base + 2 * hr),
      ("B", base + 2 * hr, base + 4 * hr)), got.toString)
  }

  test("scd2Stream idle eviction drops the open tail; same-type activity " +
      "refreshes liveness") {
    import graft.streaming.StreamingIngest.StateEvent
    val src = Files.createTempDirectory("graft_scd2_to_").toString
    val t0 = 1700000000000000L // µs
    val idleUs = 20000000L // 20 s
    // batch 1: user 1 holds state "a" with steady SAME-TYPE activity
    // spanning longer than the idle timeout — must NOT be evicted,
    // because liveness keys off the LAST event, not the interval start
    Seq(StateEvent(1L, 1L, "a", t0),
        StateEvent(1L, 2L, "a", t0 + 15000000L),
        StateEvent(1L, 3L, "a", t0 + 30000000L)).toDS()
      .write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = graft.streaming.StreamingIngest.scd2Stream(
      spark.readStream.schema(schema).parquet(src).as[StateEvent],
      idleTimeoutUs = idleUs, watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("scd2_timeout_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("scd2_timeout_out").count() == 0) // run still open
      // batch 2: a type change CLOSES the run (proving the long
      // same-type run survived its own start + idle horizon)
      Seq(StateEvent(1L, 4L, "b", t0 + 35000000L)).toDS()
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      val closed = spark.table("scd2_timeout_out").collect()
      assert(closed.length == 1)
      assert(closed.head.getAs[String]("state") == "a" &&
        closed.head.getAs[Long]("valid_from_us") == t0 &&
        closed.head.getAs[Long]("valid_to_us") == t0 + 35000000L)
      // batch 3: another user far ahead pushes the watermark past user
      // 1's idle horizon — the open "b" tail is EVICTED, not emitted
      Seq(StateEvent(2L, 5L, "x", t0 + 200000000L)).toDS()
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      assert(spark.table("scd2_timeout_out").count() == 1,
        "eviction must drop the never-closed tail silently")
      val lastState = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).get.stateOperators.head
      assert(lastState.numRowsTotal == 1L, s"state rows: ${lastState.numRowsTotal}")
    } finally q.stop()
  }

  test("idle as-of key expires on event time: later probe starts from empty state") {
    import graft.streaming.StreamingAsOf
    val src = Files.createTempDirectory("graft_asof_to_").toString
    val t0 = 1700000000000000L // µs
    // batch 1: key 1 gets a ref, and a probe that matches it
    Seq(
      StreamingAsOf.tagRef(1L, t0, 7.0),
      StreamingAsOf.tagProbe(1L, t0 + 1000000L, 11L)).toDS()
      .write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = StreamingAsOf.asOfStream(
      spark.readStream.schema(schema).parquet(src).as[StreamingAsOf.AsOfEvent],
      idleTimeoutUs = 10000000L, // 10 s
      watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("asof_timeout_out").start()
    try {
      q.processAllAvailable()
      // batch 2: another key far ahead advances the watermark past key 1's
      // idle horizon → key 1's buffer is evicted
      Seq(StreamingAsOf.tagRef(2L, t0 + 100000000L, 1.0)).toDS()
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      // batch 3: a fresh probe on key 1 — its ref is GONE, so no match
      Seq(StreamingAsOf.tagProbe(1L, t0 + 101000000L, 12L)).toDS()
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      val got = spark.table("asof_timeout_out")
        .orderBy("event_id").collect()
        .map(r => (r.getAs[Long]("event_id"), Option(r.getAs[Any]("err_ts_us"))))
      assert(got.toSeq == Seq((11L, Some(t0)), (12L, None)), got.mkString(","))
    } finally q.stop()
  }

  test("duplicate equal-ts reference across micro-batches: largest payload still wins") {
    import graft.streaming.StreamingAsOf
    val src = Files.createTempDirectory("graft_asof_dup_").toString
    val t0 = 1700000000000000L
    // batch 1: the SMALLER payload arrives first
    Seq(StreamingAsOf.tagRef(1L, t0, 1.0)).toDS()
      .write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val q = StreamingAsOf.asOfStream(
      spark.readStream.schema(schema).parquet(src).as[StreamingAsOf.AsOfEvent])
      .writeStream.outputMode("append").format("memory")
      .queryName("asof_dup_out").start()
    try {
      q.processAllAvailable()
      // batch 2: a duplicate (key, ts) ref with a LARGER payload, then a probe
      Seq(StreamingAsOf.tagRef(1L, t0, 9.0)).toDS()
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      Seq(StreamingAsOf.tagProbe(1L, t0 + 1000L, 21L)).toDS()
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      // and the mirror order: larger payload first, smaller second
      Seq(StreamingAsOf.tagRef(2L, t0, 9.0)).toDS()
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      Seq(StreamingAsOf.tagRef(2L, t0, 1.0)).toDS()
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      Seq(StreamingAsOf.tagProbe(2L, t0 + 1000L, 22L)).toDS()
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      val got = spark.table("asof_dup_out")
        .orderBy("event_id").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("err_value")))
      // both keys must resolve to the max payload 9.0 regardless of the
      // arrival batching — the batch operator's tiebreak
      assert(got.toSeq == Seq((21L, 9.0), (22L, 9.0)), got.mkString(","))
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch interval join") {
    val src1 = Files.createTempDirectory("graft_ssj_l_").toString
    val src2 = Files.createTempDirectory("graft_ssj_r_").toString
    val ev = graft.sources.Tables.events(spark, sf0001)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("value"))
    purchases.write.mode("overwrite").parquet(src1)
    errors.write.mode("overwrite").parquet(src2)
    val (s1, s2) = (spark.read.parquet(src1).schema, spark.read.parquet(src2).schema)

    val joined = graft.streaming.StreamingIngest.intervalJoinStream(
      spark.readStream.schema(s1).parquet(src1),
      spark.readStream.schema(s2).parquet(src2),
      "user_id", windowSecs = 3600)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssj_out")
      .select("l_event_id", "r_ts", "r_value")

    val want = purchases.as("l").join(errors.as("r"),
      expr("l.user_id = r.user_id AND r.ts >= l.ts AND " +
        "r.ts <= l.ts + interval 3600 seconds"))
      .select(col("l.event_id").as("l_event_id"),
        col("r.ts").as("r_ts"), col("r.value").as("r_value"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("foreachBatch streams points into reference-format .bin shards the DSv2 source reads back") {
    val src = Files.createTempDirectory("graft_fb_src_").toString
    val store = Files.createTempDirectory("graft_fb_store_").toString
    val pts = (1 until 2000).map(i => DataPoint(i * 5000L, i * 0.5))
    pts.toDS().toDF().write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema

    // the full streaming->reference bridge: micro-batches land as the
    // reference engine's own shard files (end-inclusive naming), so the
    // original engine can keep querying data ingested through Spark
    val q = spark.readStream.schema(schema).parquet(src)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sources.gorilla.GorillaShardWriter.writeShards(
          batch.as[DataPoint], store)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val back = spark.read
      .format(classOf[graft.sources.gorilla.GorillaShardSource].getName)
      .load(store)
    assert(back.count() == pts.size)
    val got = back.orderBy("timestamp").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == pts.map(p => (p.timestamp, p.value)))
  }

  test("streaming dedup emits exactly one survivor per content hash") {
    val src = Files.createTempDirectory("graft_dedup_src_").toString
    // 300 docs over 100 distinct texts: every text appears 3× within the
    // watermark horizon, at distinct timestamps
    val docs = (0 until 300).map(i =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L), s"text ${i % 100}"))
    docs.toDF("doc_id", "ts", "text").write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema

    val streamed = graft.streaming.StreamingIngest.dedupStream(
      spark.readStream.schema(schema).parquet(src))
    val q = streamed.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("dedup_out")
    assert(got.count() == 100)
    // exactly one surviving row per distinct text, none of them twice
    assert(got.select("text_hash").distinct().count() == 100)
  }
}
