package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Operational / product analytics over the event stream — the alerting and
  * funnel layer a monitoring product builds on top of the reference's range
  * scans (its README pitches "insights" over raw points; these are the
  * standard shapes that word implies: outlier detection, seasonal
  * baselines, histogram quantiles, conversion funnels).
  *
  * Scale notes (100 TB): every operator here aggregates to a bounded
  * result — hourly buckets × event types, 24 hour-of-day slots, a handful
  * of histogram buckets, one row per funnel stage. The only shuffles are
  * keyed aggregations with map-side partials; per-type statistics join
  * back via broadcast (|event_type| rows). Nothing collects unbounded
  * data to the driver.
  */
object Analytics {
  import TimeSeries.tsUs

  /** Hourly exact sums per event type: the shared first stage. DECIMAL
    * sums keep the result order-independent (and oracle-identical). */
  private def hourlySums(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"),
        tsUs(date_trunc("hour", col("ts"))).as("bucket_us"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("s"))

  /** Global z-score outlier detection: flag hours whose metric sum sits
    * more than `threshold` sample standard deviations from that event
    * type's mean. Moment sums (n, Σx, Σx²) are computed exactly in
    * DECIMAL then cast to double once, so both the mean and the variance
    * are bit-identical across engines; a zero-variance type yields NULL
    * (guarded), never NaN. The per-type stats frame is tiny — Catalyst
    * broadcasts it back onto the hourly frame. */
  def anomalyZScore(events: DataFrame, threshold: Double = 3.0): DataFrame = {
    // materialize the BOUNDED hourly frame once (a [[Materialize]] cut:
    // local unless a Spark checkpoint directory is set) —
    // referencing the aggregation subtree from both the stats and the
    // flagging branch still re-scanned the raw table 3x (measured; plan
    // exchange reuse only dedupes one branch pair)
    val hourly = Materialize(hourlySums(events))
    hourly.join(statsOf(hourly), "event_type")
      .withColumn("z", zScore(col("s")))
      .filter(abs(col("z")) > threshold)
      // hourly_sum leaves as DOUBLE: a decimal(18,2) → double conversion is
      // correctly rounded in both engines (bit-identical), while raw
      // DECIMAL output columns canonicalize differently across the
      // driver's two read paths (Decimal object vs float64) — the round-4
      // hash failures were exactly the queries emitting raw decimals
      .select(col("event_type"), col("bucket_us"),
        col("s").cast("double").as("hourly_sum"), col("z").as("zscore"))
  }

  /** Poisson √-band anomaly on hourly EVENT COUNTS — the count-data
    * twin of [[anomalyZScore]]: under a Poisson rate the variance IS
    * the mean, so an hour is anomalous when
    * |n − λ̂| > threshold·√λ̂ with λ̂ = that type's mean hourly count.
    * No variance estimate, no second moment — exact integer counts,
    * one division, one IEEE sqrt; engine-identical. The hourly frame is
    * bucket-bounded; per-type baselines broadcast back. */
  def anomalyPoisson(events: DataFrame, threshold: Double = 3.0): DataFrame = {
    val hourly = Materialize(events
      .groupBy(col("event_type"),
        tsUs(date_trunc("hour", col("ts"))).as("bucket_us"))
      .agg(count(lit(1)).as("n")))
    val base = hourly.groupBy(col("event_type"))
      .agg(sum(col("n")).as("total"), count(lit(1)).as("n_hours"))
      .select(col("event_type"),
        (col("total").cast("double") / col("n_hours").cast("double"))
          .as("lambda"))
    hourly.join(broadcast(base), "event_type")
      .withColumn("dev",
        (col("n").cast("double") - col("lambda")) / sqrt(col("lambda")))
      .filter(abs(col("dev")) > threshold)
      .select(col("event_type"), col("bucket_us"), col("n"),
        col("lambda"), col("dev"))
  }

  /** Lag-feature assembly — the supervised-forecasting design matrix:
    * per series, each observation with its lag-1/lag-2 values, the
    * first difference, and the trailing 3-row mean. Lags are exact
    * cent-grid decimals over the (ts_us, event_id) total order; the
    * rolling mean divides an exact decimal window sum by its row count
    * once. One partitioned window pass per type — bounded by a series'
    * own history, no global sort. Leading rows carry NULL lags (the
    * model-side mask), never fabricated zeros. */
  def lagFeatures(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    val trailing3 = w.rowsBetween(-2, Window.currentRow)
    val v = col("value").cast("decimal(18,2)")
    events
      .select(col("event_id"), col("event_type"), tsUs(col("ts")).as("ts_us"),
        col("value"))
      .withColumn("v", v)
      .select(col("event_id"), col("event_type"), col("ts_us"),
        col("v").cast("double").as("value"),
        lag(col("v"), 1).over(w).cast("double").as("lag1"),
        lag(col("v"), 2).over(w).cast("double").as("lag2"),
        (col("v") - lag(col("v"), 1).over(w)).cast("double").as("diff1"),
        (sum(col("v")).over(trailing3).cast("double") /
          count(lit(1)).over(trailing3).cast("double")).as("mean3"))
  }

  /** Data-freshness report — the pipeline-health staple: per series,
    * the last event time, its lag behind the freshest series (a stuck
    * producer shows as a growing lag), and the volume within the
    * trailing hour of the global watermark. All exact integer
    * arithmetic; the global max attaches as a broadcast single-row
    * frame. */
  def freshnessReport(events: DataFrame): DataFrame = {
    val per = events.groupBy(col("event_type"))
      .agg(max(tsUs(col("ts"))).as("last_event_us"),
        count(lit(1)).as("n_events"))
    val wm = per.agg(max(col("last_event_us")).as("watermark_us"))
    per.crossJoin(broadcast(wm)) // single-row scalar attach
      .join(events.select(col("event_type"), tsUs(col("ts")).as("t"))
          .crossJoin(broadcast(wm))
          .filter(col("t") > col("watermark_us") - 3600000000L)
          .groupBy(col("event_type")).agg(count(lit(1)).as("n_last_hour")),
        Seq("event_type"), "left")
      .select(col("event_type"), col("last_event_us"),
        (col("watermark_us") - col("last_event_us")).as("lag_us"),
        col("n_events"), coalesce(col("n_last_hour"), lit(0L))
          .as("n_last_hour"))
  }

  /** Per-type moment statistics (n, Σx, Σx²) of the hourly sums — the
    * baseline frame [[anomalyZScore]] derives inline and the streaming
    * flagger ([[graft.streaming.StreamingIngest.anomalyStream]]) takes
    * precomputed (score live traffic against yesterday's batch stats). */
  def momentStats(events: DataFrame): DataFrame = statsOf(hourlySums(events))

  private def statsOf(hourly: DataFrame): DataFrame =
    hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("s")).cast("double").as("sx"),
        sum(col("s") * col("s")).cast("double").as("sxx"))

  /** Sample z-score of `s` against in-scope (n, sx, sxx) columns; NULL
    * when the variance is zero or undefined (never NaN/Inf). */
  private[graft] def zScore(s: Column): Column = {
    val variance = (col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)
    when(col("n") < 2 || variance <= 0d, lit(null))
      .otherwise((s.cast("double") - col("sx") / col("n")) / sqrt(variance))
  }

  /** Robust (MAD-based) outlier detection: flag hours whose sum deviates
    * from the per-type MEDIAN by more than `threshold` normalized median
    * absolute deviations (robust z = (x−med)/(1.4826·MAD)) — immune to
    * the outliers themselves inflating the scale, unlike
    * [[anomalyZScore]]'s moment statistics. Medians use the integer
    * quantile-position convention shared with the quantile operators
    * (rank (n·50+99) div 100 under a total order), so the result is
    * engine-exact, not interpolation-dependent. Two ranking windows over
    * the BOUNDED hourly frame (|types| × |hours| rows), then broadcast
    * joins back — the raw stream is only touched by the first
    * aggregation. */
  def anomalyMad(events: DataFrame, threshold: Double = 3.0): DataFrame = {
    // hourly referenced by three branches (median, deviations, flagging
    // join) — materialize once so the raw stream is scanned once
    val hourly = Materialize(hourlySums(events))
    def medianOf(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
      val w = Window.partitionBy("event_type")
      df.withColumn("rn",
          row_number().over(w.orderBy(col(valueCol), col("bucket_us"))))
        .withColumn("n", count(lit(1)).over(w))
        .filter(col("rn") === expr("(n * 50 + 99) div 100"))
        .select(col("event_type"), col(valueCol).as(outCol))
    }
    val med = medianOf(hourly, "s", "med")
    val d = hourly.join(med, "event_type")
      .withColumn("dev", abs(col("s") - col("med")))
    val mad = medianOf(d.select(col("event_type"), col("bucket_us"),
      col("dev")), "dev", "mad")
    d.join(mad, "event_type")
      .filter(col("mad") > 0)
      .withColumn("robust_z", (col("s") - col("med")).cast("double") /
        (lit(1.4826) * col("mad").cast("double")))
      .filter(abs(col("robust_z")) > threshold)
      .select(col("event_type"), col("bucket_us"),
        col("s").cast("double").as("hourly_sum"), col("robust_z"))
  }

  /** Seasonal (hour-of-day) baseline: per event type × hour-of-day slot,
    * the mean hourly sum and how many hours back it — the reference curve
    * that turns raw anomaly detection into seasonality-aware alerting.
    * Output is at most |types| × 24 rows. */
  def seasonalBaseline(events: DataFrame): DataFrame =
    hourlySums(events)
      .withColumn("hod", expr("(bucket_us div 3600000000) % 24").cast("int"))
      .groupBy(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("n_hours"),
        (sum(col("s")).cast("double") / count(lit(1))).as("mean_sum"))

  /** Additive seasonal decomposition (STL-lite): per event type,
    * trend = centered 24-bucket moving average over present hourly
    * buckets (NULL at the edges where the window is ragged — honest,
    * no padding), seasonal = per hour-of-day mean of the detrended
    * series, residual = observed − trend − seasonal. DECIMAL sums feed
    * each component; the trend/seasonal means divide once in double.
    * Two window/group passes over the bounded hourly frame. */
  def seasonalDecompose(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("bucket_us")
      .rowsBetween(-12, 11)
    val trended = hourlySums(events)
      .withColumn("wn", count(lit(1)).over(w))
      .withColumn("trend",
        when(col("wn") < 24, lit(null))
          .otherwise(sum(col("s")).over(w).cast("double") / col("wn")))
      .withColumn("hod", expr("(bucket_us div 3600000000) % 24").cast("int"))
      .withColumn("detr", col("s").cast("double") - col("trend"))
    // seasonal mean via a SORTED LEFT FOLD, not a decimal sum: detrended
    // values are arbitrary doubles, and double→decimal casts round via
    // different rules across engines (Spark: shortest-repr string;
    // DuckDB: exact binary expansion) — the fold keeps pure IEEE ops
    val seasonal = trended.filter(col("detr").isNotNull)
      .groupBy(col("event_type"), col("hod"))
      .agg((aggregate(
        transform(sort_array(collect_list(struct(col("bucket_us"), col("detr")))),
          p => p.getField("detr")),
        lit(0d), (acc, x) => acc + x) / count(lit(1))).as("seasonal"))
    trended.join(seasonal, Seq("event_type", "hod"), "left")
      .select(col("event_type"), col("bucket_us"),
        col("s").cast("double").as("hourly_sum"),
        col("trend"), col("seasonal"),
        (col("detr") - col("seasonal")).as("residual"))
  }

  /** CUSUM change-point detection: per event type, the cumulative sum of
    * deviations from the series mean (EXACT — both the running sum and
    * the global mean come from DECIMAL arithmetic; the single double
    * conversion happens on the final statistic), plus the magnitude
    * `|cusum|` whose per-type maximum locates the most likely level
    * shift. Emits every bucket; the caller reduces to argmax or
    * thresholds. One ranking window over the bounded hourly frame. */
  def cusum(events: DataFrame): DataFrame = {
    val hourly = Materialize(hourlySums(events))
    val totals = hourly.groupBy(col("event_type"))
      .agg(sum(col("s")).cast("decimal(28,6)").as("tot"),
        count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("bucket_us")
      .rowsBetween(Window.unboundedPreceding, 0)
    hourly.join(totals, "event_type")
      .withColumn("k", count(lit(1)).over(w))
      // Σ_{i≤t} (x_i − mean) = (n·Σx_{≤t} − t·Σx_all) / n: the numerator
      // stays EXACT decimal, converts to double once, and the division
      // is IEEE by an exact integer (decimal division is never used —
      // its rounding rules differ across engines)
      .withColumn("cusum",
        (col("n") * sum(col("s")).over(w).cast("decimal(28,6)") -
          col("k") * col("tot")).cast("double") / col("n"))
      .select(col("event_type"), col("bucket_us"),
        col("s").cast("double").as("hourly_sum"),
        col("cusum"), abs(col("cusum")).as("cusum_abs"))
  }

  /** Bollinger bands: rolling mean ± k·σ over the trailing `window`
    * hourly buckets (ROWS frame over present buckets), with a breakout
    * flag per hour. Moment sums stay DECIMAL inside the frame (exact,
    * order-free) and round to double once; bands are NULL until the
    * frame is full (and for zero variance) — never NaN. One partitioned
    * window over the bounded hourly frame. */
  def bollingerBands(events: DataFrame, window: Int = 24,
      k: Double = 2.0): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("bucket_us")
      .rowsBetween(-(window - 1), 0)
    val base = hourlySums(events)
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("s")).over(w).cast("double"))
      .withColumn("sxx", sum(col("s") * col("s")).over(w).cast("double"))
    val mean = col("sx") / col("n")
    val variance = (col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)
    base
      .withColumn("mean_w",
        when(col("n") < window, lit(null)).otherwise(mean))
      .withColumn("sd_w",
        when(col("n") < window || variance <= 0d, lit(null))
          .otherwise(sqrt(variance)))
      .withColumn("breakout",
        col("sd_w").isNotNull &&
          abs(col("s").cast("double") - col("mean_w")) > lit(k) * col("sd_w"))
      .select(col("event_type"), col("bucket_us"),
        col("s").cast("double").as("hourly_sum"),
        col("mean_w"), col("sd_w"), col("breakout"))
  }

  /** Rolling median over the trailing `window` hourly buckets — the
    * robust counterpart of the Bollinger mean band (a single spike moves
    * a rolling mean for a full window length but barely moves the rolling
    * median). Spark has no median window function; the frame's values are
    * collected, sorted, and indexed at the shared integer quantile
    * position ((n·50+99) div 100 — same convention as every quantile
    * operator here, mirrored exactly by the oracle's list window).
    * O(w log w) per row on a BOUNDED frame — fine for hourly grains;
    * for high-frequency frames use the sketch path instead. */
  def rollingMedian(events: DataFrame, window: Int = 24): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("bucket_us")
      .rowsBetween(-(window - 1), 0)
    hourlySums(events)
      // all-NULL buckets (sum of only-NULL values) are excluded: Spark's
      // collect_list drops NULLs while count(1) would still count the
      // row, desynchronizing the index — and DuckDB's list() KEEPS the
      // NULL, so the two engines would pick different elements
      .filter(col("s").isNotNull)
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("arr", sort_array(collect_list(col("s")).over(w)))
      .select(col("event_type"), col("bucket_us"),
        col("s").cast("double").as("hourly_sum"),
        element_at(col("arr"), expr("(n * 50 + 99) div 100").cast("int"))
          .cast("double").as("rolling_median"))
  }

  /** Holt linear (double) exponential smoothing over each type's hourly
    * series: level/trend recursion folded over the time-ordered array in
    * ONE `aggregate()` pass — the fold is a fixed left-to-right chain of
    * IEEE ops, so the result is deterministic and engine-exact (the
    * oracle reproduces it with the same list fold; smoothing constants
    * are interpolated from the SAME Scala doubles on both sides).
    * level seeds from the first observation, trend from 0.
    *
    * Scale: state per series is the collected hourly array — bounded by
    * the retention horizon, not the raw stream (100 TB of points is
    * still ≤ years×8760 hourly buckets per series after the first
    * aggregation); cap the history window upstream for unbounded series. */
  def holtForecast(events: DataFrame, alpha: Double, beta: Double,
      horizons: Seq[Int]): DataFrame = {
    val series = hourlySums(events)
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(
        struct(col("bucket_us"), col("s").cast("double").as("v")))).as("pts"))
      .select(col("event_type"),
        transform(col("pts"), p => p.getField("v")).as("vs"))
    val st = aggregate(
      slice(col("vs"), lit(2), size(col("vs")) - 1),
      struct(element_at(col("vs"), 1).as("l"), lit(0d).as("b")),
      (acc, x) => {
        val l = acc.getField("l"); val b = acc.getField("b")
        val nl = lit(alpha) * x + lit(1 - alpha) * (l + b)
        struct(nl.as("l"),
          (lit(beta) * ((lit(alpha) * x + lit(1 - alpha) * (l + b)) - l) +
            lit(1 - beta) * b).as("b"))
      })
    series.filter(size(col("vs")) >= 2)
      .withColumn("st", st)
      .select(Seq(col("event_type"), size(col("vs")).cast("long").as("n_hours"),
        col("st.l").as("level"), col("st.b").as("trend")) ++
        horizons.map(h =>
          (col("st.l") + lit(h) * col("st.b")).as(s"forecast_${h}h")): _*)
  }

  /** Prometheus-style histogram quantile: bucket observations into
    * cumulative `le` (less-or-equal) buckets with the given upper bounds,
    * then linearly interpolate the φ-quantile inside the first bucket
    * whose cumulative count reaches φ·total — `histogram_quantile()`
    * semantics, including "clamp to the last finite bound" when the
    * quantile lands in the +Inf bucket. Two keyed aggregations plus a
    * |types|×|bounds|-row window — the raw data is touched once. */
  def histogramQuantile(events: DataFrame, phi: Double,
      bounds: Seq[Double]): DataFrame = {
    require(bounds.nonEmpty && bounds == bounds.sorted, "bounds must ascend")
    val le = bounds.foldRight(lit(Double.PositiveInfinity): Column)(
      (b, acc) => when(col("value") <= b, lit(b)).otherwise(acc))
    val counted = events.groupBy(col("event_type"), le.as("le"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("le")
    // each bucket's lower edge is the ADJACENT CONFIGURED bound (a literal
    // lookup), NOT lag(le) over buckets present in the data — with an
    // empty intermediate bucket, lag would stretch the interpolation
    // interval below the bucket's true range and the estimate could land
    // where provably no observation exists (Prometheus uses the bound)
    val loOf = bounds.zipWithIndex.foldLeft(
        when(col("le") === Double.PositiveInfinity, lit(bounds.last))) {
      case (acc, (b, i)) =>
        acc.when(col("le") === b, lit(if (i == 0) 0d else bounds(i - 1)))
    }
    counted
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("lo", loOf)
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy("event_type")))
      .filter(col("cum") >= lit(phi) * col("total"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("total").as("n"),
        // +Inf bucket: clamp to the highest FINITE bound (the Prometheus
        // convention) — a literal, not lag(le), which is absent when no
        // finite bucket holds data
        when(col("le") === Double.PositiveInfinity, lit(bounds.last))
          .otherwise(col("lo") + (col("le") - col("lo")) *
            (lit(phi) * col("total") - (col("cum") - col("cnt"))) / col("cnt"))
          .as("quantile"))
  }

  /** Pareto / concentration curve: rank users by their total spend on
    * `eventType` and report, per user-decile, the cumulative share of
    * total value — "the top 10% of users drive N% of revenue". Exact
    * DECIMAL spend sums; ranks and decile boundaries are integer
    * arithmetic; the share divides two exact decimals as doubles once.
    *
    * The global rank is DISTRIBUTED: range-repartition on the sort key,
    * rank within each partition, then add per-partition exclusive
    * offsets (one row per partition — a broadcast). No single task ever
    * holds the whole user frame, unlike a bare `Window.orderBy`; the
    * result is identical because (spend desc, user_id) is a strict total
    * order that range partitioning preserves across partition ids. */
  def paretoCurve(events: DataFrame, eventType: String): DataFrame = {
    val spend = events.filter(col("event_type") === eventType)
      .groupBy(col("user_id"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)")
        .as("spend"))
    distributedRank(spend, Seq.empty, Seq(col("spend").desc, col("user_id")))
      .withColumn("decile", expr("((rn - 1) * 10) div n").cast("int"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("spend")).cast("decimal(18,2)").as("decile_value"))
      .withColumn("cum_value",
        sum(col("decile_value")).over(
          Window.orderBy("decile")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("decimal(18,2)"))
      .withColumn("cum_share",
        col("cum_value").cast("double") /
          sum(col("decile_value")).over(Window.partitionBy())
            .cast("decimal(18,2)").cast("double"))
      .select(col("decile"), col("n_users"),
        col("decile_value").cast("double").as("decile_value"),
        col("cum_value").cast("double").as("cum_value"), col("cum_share"))
  }

  /** Ordered conversion funnel: stage 1 admits every user with a
    * `stages(0)` event; stage i admits a stage-(i-1) user whose earliest
    * `stages(i)` event falls within `horizonUs` AFTER their stage-(i-1)
    * completion time. One row per stage with the surviving user count.
    * Each stage is a user_id-keyed aggregation joined to the previous
    * stage's (user_id, ts) frame on the same key — co-partitioned, no
    * extra shuffle beyond the per-stage aggregation. */
  def funnel(events: DataFrame, stages: Seq[String],
      horizonUs: Long): DataFrame =
    funnelStageTimes(events, stages, horizonUs).zip(stages).zipWithIndex
      .map { case ((df, st), i) =>
        df.agg(count(lit(1)).as("n_users"))
          .select(lit((i + 1).toLong).as("stage_idx"), lit(st).as("stage"),
            col("n_users"))
      }.reduce(_ unionByName _)

  /** The funnel's per-stage survivor frames — (user_id, t) of each user's
    * qualifying completion time per stage, shared by [[funnel]] (counts)
    * and [[funnelLatency]] (time-to-convert quantiles). */
  private def funnelStageTimes(events: DataFrame, stages: Seq[String],
      horizonUs: Long): Seq[DataFrame] = {
    require(stages.nonEmpty, "need at least one funnel stage")
    val e = events.select(col("user_id"), col("event_type"),
      tsUs(col("ts")).as("t"))
    val first = e.filter(col("event_type") === stages.head)
      .groupBy(col("user_id")).agg(min(col("t")).as("t"))
    stages.tail.scanLeft(first) { (prev, st) =>
      e.filter(col("event_type") === st)
        .join(prev.select(col("user_id"), col("t").as("t_prev")), "user_id")
        .filter(col("t") >= col("t_prev") &&
          col("t") <= col("t_prev") + horizonUs)
        .groupBy(col("user_id")).agg(min(col("t")).as("t"))
    }
  }

  /** Time-to-convert quantiles through the funnel: for each stage past
    * the first, the p50/p90 (integer quantile positions — the shared
    * engine-exact convention) of µs from the user's stage-1 completion
    * to that stage's completion, over converting users only.
    *
    * The per-stage rank is DISTRIBUTED, same pattern as
    * [[paretoCurve]]: range-repartition on (stage, latency, user), rank
    * within partitions, add per-(stage, partition) exclusive offsets
    * (a stages×partitions-row broadcast). No single task ever holds a
    * stage's full converter set — the |users|-bounded-window hazard
    * medianByType documents doesn't apply here. */
  def funnelLatency(events: DataFrame, stages: Seq[String],
      horizonUs: Long): DataFrame = {
    require(stages.length >= 2, "latency needs at least two funnel stages")
    val sets = funnelStageTimes(events, stages, horizonUs)
    val firstT = sets.head.select(col("user_id"), col("t").as("t0"))
    val lats = sets.tail.zip(stages.tail).zipWithIndex.map {
      case ((df, st), i) =>
        df.join(firstT, "user_id")
          .select(lit((i + 2).toLong).as("stage_idx"), lit(st).as("stage"),
            col("user_id"), (col("t") - col("t0")).as("lat_us"))
    }.reduce(_ unionByName _)
    distributedRank(lats, Seq("stage_idx"),
        Seq(col("lat_us"), col("user_id")))
      .groupBy(col("stage_idx"), col("stage"))
      .agg(max(col("n")).as("n_converted"),
        max(when(col("rn") === expr("(n * 50 + 99) div 100"), col("lat_us")))
          .as("p50_lat_us"),
        max(when(col("rn") === expr("(n * 90 + 99) div 100"), col("lat_us")))
          .as("p90_lat_us"))
  }

  /** Cross-series correlation matrix: pairwise Pearson r of the hourly
    * sums across event types, joined on shared hour buckets (type_a <
    * type_b) — the co-movement view a TSDB dashboard draws next to
    * [[graft.operators.TimeSeries.xcorrLag]]'s single lagged pair.
    * Moments are exact DECIMAL sums converted to double once; the
    * textbook formula then runs the same IEEE op shape in any engine.
    * The self-join keys on the hour bucket (|types| rows per bucket,
    * never corpus²); output is |types|²-bounded. Zero-variance pairs
    * emit NULL, never NaN.
    *
    * Overflow bound: the x·y products are decimal(18,2)×decimal(18,2)
    * accumulated in decimal(38,4), so exactness holds while
    * Σ|x·y| < 10³⁴ — hourly sums up to ~10¹⁵ across ~10⁴ buckets. Past
    * that, non-ANSI Spark yields NULL moments (NULL pearson_r rows,
    * visible, not silently wrong) where a HUGEINT-backed engine stays
    * exact — re-derive with ANSI mode on or pre-scale the inputs if a
    * deployment ever nears the bound (cf. [[userLift]]'s decimal(38,0)
    * widening for the same reason). */
  def corrMatrix(events: DataFrame): DataFrame = {
    val hourly = Materialize(hourlySums(events))
    val a = hourly.select(col("event_type").as("type_a"), col("bucket_us"),
      col("s").as("x"))
    val b = hourly.select(col("event_type").as("type_b"), col("bucket_us"),
      col("s").as("y"))
    val m = a.join(b, "bucket_us").filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"))
    val varxN = col("n") * col("sxx") - col("sx") * col("sx")
    val varyN = col("n") * col("syy") - col("sy") * col("sy")
    m.select(col("type_a"), col("type_b"), col("n"),
      when(col("n") < 2 || varxN <= 0d || varyN <= 0d, lit(null))
        .otherwise((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(varxN) * sqrt(varyN))).as("pearson_r"))
  }

  /** Co-occurrence lift between event types over users ("users who did A
    * also did B"): lift = P(A∧B) / (P(A)·P(B)) = n_ab·N / (n_a·n_b) —
    * pure integer counts and ONE double division each (the market-basket
    * association measure, chosen over PMI because it needs no ln()).
    * Distinct (user, type) pairs self-join per user (≤ |types| rows per
    * user, never corpus²); per-type totals broadcast back; the count
    * products go through decimal(38,0) so n_ab·N cannot overflow a long
    * at 100 TB user counts. */
  def userLift(events: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val ut = Materialize(events.select(col("user_id"), col("event_type"))
      .distinct())
    val totals = ut.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    val nUsers = ut.select(col("user_id")).distinct().count() // bounded scalar
    val a = ut.select(col("user_id"), col("event_type").as("type_a"))
    val b = ut.select(col("user_id"), col("event_type").as("type_b"))
    a.join(b, "user_id").filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("n_ab"))
      .join(broadcast(totals.select(col("event_type").as("type_a"),
        col("cnt").as("n_a"))), "type_a")
      .join(broadcast(totals.select(col("event_type").as("type_b"),
        col("cnt").as("n_b"))), "type_b")
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"), col("n_b"),
        ((col("n_ab").cast(d38) * lit(nUsers).cast(d38)).cast("double") /
          (col("n_a").cast(d38) * col("n_b").cast(d38)).cast("double")).as("lift"))
  }

  /** First-order Markov transition matrix over per-user event journeys:
    * for each (from, to) event-type pair, the number of adjacent
    * occurrences and the row-normalized transition probability. One
    * window pass keyed on the user (adjacency = lead over (ts, event_id)
    * total order), one hash aggregation over the tiny type×type domain;
    * the row total rides a second window over that already-aggregated
    * matrix, so nothing bigger than |types|² is ever re-shuffled. The
    * probability is a SINGLE long/long IEEE division — bit-identical on
    * any engine. */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    pairsToMatrix(events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type")))
  }

  /** (from, to) pair stream → counted, row-normalized matrix — shared by
    * the plain and blocked transition builds so their outputs are
    * bit-identical by construction (same count, same single long/long
    * IEEE division over the tiny |types|² domain). */
  private def pairsToMatrix(pairs: DataFrame): DataFrame = {
    val wTot = Window.partitionBy(col("from_type"))
    pairs
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total", sum(col("n")).over(wTot))
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("row_total").cast("double")).as("prob"))
  }

  /** Skew-proof [[transitionMatrix]]: identical output, bounded window
    * partitions — the [[Blocks]] treatment applied to ADJACENCY. The
    * plain build's lead() runs one partition per user, so a hot user
    * holding 90 % of events serializes 90 % of the pass on one task.
    * Here adjacency decomposes EXACTLY into (a) within-block pairs — lead
    * over `(user, blk)`, hot-user parallelism = block count — and (b)
    * cross-block pairs: each block's last event pairs with the user's
    * next non-empty block's first event, built from one (first, last)
    * summary row per (user, block) (the struct min/max carries the
    * (ts, event_id) total order), so the stitch window is over
    * block-level rows, never events. The decomposition holds for either
    * cut; the default is the hourly time cut. */
  def transitionMatrixBlocked(events: DataFrame,
      blocks: Blocks = Blocks.hourly): DataFrame =
    transitionOnBlocks(blocks.cut(events
      .select(col("user_id"), tsUs(col("ts")).as("ts_us"),
        col("event_id"), col("event_type")), "user_id"))

  /** Shared tail of the blocked transition builds: within-block
    * adjacency plus the block-summary boundary stitch. Requires `blk`
    * contiguous and ascending in the per-user (ts_us, event_id) order
    * — true for time cuts and count cuts alike. */
  private def transitionOnBlocks(e: DataFrame): DataFrame = {
    val wLocal = Window.partitionBy(col("user_id"), col("blk"))
      .orderBy(col("ts_us"), col("event_id"))
    val localPairs = e
      .withColumn("to_type", lead(col("event_type"), 1).over(wLocal))
      .filter(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"))
    val wUser = Window.partitionBy(col("user_id")).orderBy(col("blk"))
    val boundaryPairs = e
      .groupBy(col("user_id"), col("blk"))
      .agg(
        min(struct(col("ts_us"), col("event_id"), col("event_type"))).as("first"),
        max(struct(col("ts_us"), col("event_id"), col("event_type"))).as("last"))
      .withColumn("next_first", lead(col("first"), 1).over(wUser))
      .filter(col("next_first").isNotNull)
      .select(col("last.event_type").as("from_type"),
        col("next_first.event_type").as("to_type"))
    pairsToMatrix(localPairs.unionByName(boundaryPairs))
  }

  /** Adaptive [[transitionMatrix]]: [[Blocks.adaptive]] on the user key
    * — plain unless the hottest user is dominant and spans ≥ 2 count
    * blocks; then the hourly time cut while its densest hour stays
    * bounded, or the count cut past it. Bit-identical on every branch. */
  def transitionMatrixAdaptive(events: DataFrame, blockRows: Long = Blocks.DefaultRows,
      sampleFraction: Double = 0.01, skewThreshold: Double = 0.2): DataFrame =
    Blocks.adaptive(events, "user_id", blockRows, sampleFraction,
      skewThreshold)(transitionMatrix(events))(transitionMatrixBlocked(events, _))

  /** Top-k session-opening paths: the ordered sequence of the first
    * `depth` event types of every gap-delimited session (same gap rule
    * as [[TimeSeries.sessionize]], same (ts, event_id) total order),
    * joined with ">" — the "how do sessions start" path-mining view
    * that funnels (fixed stage list) and the transition matrix
    * (memoryless pairs) can't express.
    *
    * Scale: two windows partitioned by user (the second, keyed by
    * (user, session), reuses the user-hash exchange — hash on a key
    * subset satisfies the clustering, only a re-sort happens), then the
    * prefix rows collapse to one bounded array per session
    * (`array_sort` on (rn, type) structs — rn is unique in-session, so
    * the sort is total and the concat order engine-exact) and a
    * map-side-partial hash count per path string. Nothing unbounded:
    * paths are ≤ `depth` types long, sessions-per-user arbitrary but
    * each contributes ≤ `depth` prefix rows. */
  def sessionPaths(events: DataFrame, gapUs: Long, depth: Int,
      topK: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val ws = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts_us"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        TimeSeries.tsUs(col("ts")).as("ts_us"))
      .withColumn("new_s",
        when(lag(col("ts_us"), 1).over(w).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("rn", row_number().over(ws))
      .filter(col("rn") <= depth)
      .groupBy(col("user_id"), col("session_id"))
      .agg(concat_ws(">",
        transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type"))).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)
  }

  /** Skew-proof [[sessionPaths]] — identical output, bounded partitions.
    * Same block-split-then-stitch construction as
    * [[TimeSeries.sessionizeBlocked]] (see there for the why, and for
    * the cuts it takes): local sessions form inside `(user, blk)`
    * windows, each keeps only its first `depth` events as a sorted
    * struct array, and merged sessions assemble their opening path from
    * the time-ordered concat of constituent prefixes, truncated to
    * `depth`. The stitch window runs over SESSION-level rows carrying
    * ≤ `depth`-element arrays — per-user volume is blocks × depth, never
    * events. */
  def sessionPathsBlocked(events: DataFrame, gapUs: Long, depth: Int,
      topK: Int, blocks: Blocks): DataFrame = {
    require(blocks.exceeds(gapUs), s"$blocks must exceed gapUs=$gapUs")
    // a count cut's rank must not reach the tail, whose per-session `rn`
    // it would shadow
    sessionPathsOnBlocks(blocks.cut(events
      .select(col("user_id"), col("event_id"), col("event_type"),
        TimeSeries.tsUs(col("ts")).as("ts_us")), "user_id").drop("rn"),
      gapUs, depth, topK)
  }

  /** Shared tail of the blocked path miners (the local-session `rn`
    * below is per-session). Requires `blk` contiguous and ascending in
    * the per-user (ts_us, event_id) order. */
  private def sessionPathsOnBlocks(e: DataFrame, gapUs: Long, depth: Int,
      topK: Int): DataFrame = {
    val wLocal = Window.partitionBy(col("user_id"), col("blk"))
      .orderBy(col("ts_us"), col("event_id"))
    val local = e
      .withColumn("new_s",
        when(lag(col("ts_us"), 1).over(wLocal).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(wLocal) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("ls",
        sum(col("new_s")).over(
          wLocal.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("blk"), col("ls"))
          .orderBy(col("ts_us"), col("event_id"))))
      // the stitch needs the TRUE local-session end, and the prefix
      // filter below drops the tail rows — take it as a window max over
      // the full local session first (same (user, blk) exchange, only a
      // re-sort; ls is monotonic in the existing order)
      .withColumn("true_end", max(col("ts_us")).over(
        Window.partitionBy(col("user_id"), col("blk"), col("ls"))))
      .filter(col("rn") <= depth)
      .groupBy(col("user_id"), col("blk"), col("ls"))
      .agg(min(col("ts_us")).as("s_start"), max(col("true_end")).as("true_end"),
        array_sort(collect_list(struct(col("ts_us"), col("event_id"),
          col("event_type")))).as("prefix"))
    val wUser = Window.partitionBy(col("user_id"))
      .orderBy(col("s_start"), col("true_end"))
    local
      .withColumn("new_m",
        when(lag(col("true_end"), 1).over(wUser).isNull ||
          col("s_start") - lag(col("true_end"), 1).over(wUser) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_m")).over(
          wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(concat_ws(">",
        transform(
          slice(flatten(transform(
            array_sort(collect_list(struct(col("s_start"), col("prefix")))),
            x => x.getField("prefix"))), 1, depth),
          x => x.getField("event_type"))).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)
  }

  /** Adaptive [[sessionPaths]]: [[Blocks.adaptive]] on the user key, as
    * [[TimeSeries.sessionizeAdaptive]] — plain, the 64×gap time cut
    * (density-bounded), or the count cut. Bit-identical on every
    * branch. */
  def sessionPathsAdaptive(events: DataFrame, gapUs: Long, depth: Int,
      topK: Int, blockRows: Long = Blocks.DefaultRows, sampleFraction: Double = 0.01,
      skewThreshold: Double = 0.2): DataFrame =
    Blocks.adaptive(events, "user_id", blockRows, sampleFraction, skewThreshold,
      Option.when(gapUs > 0L)(Blocks.session(gapUs)))(
      sessionPaths(events, gapUs, depth, topK))(
      sessionPathsBlocked(events, gapUs, depth, topK, _))

  /** Distributed global `row_number` within `partCols` over the strict
    * total order `orderCols`: range-repartition on (part, order), rank
    * inside each partition, then add per-(part, partition) exclusive
    * offsets — one row per (part, pid), a broadcast. No single task ever
    * buffers a whole partition key, unlike a bare `Window.orderBy`;
    * the result is identical because range partitioning preserves the
    * lexicographic (part, order) order across ascending partition ids.
    * The [[Materialize]] cut PINS the pid assignment: both the ranked branch
    * and the offsets branch descend from the same materialized exchange
    * (`spark_partition_id` is documented non-deterministic otherwise).
    * Shared by [[paretoCurve]], [[funnelLatency]], [[giniConcentration]],
    * [[rfmSegments]] and the count cut of [[Blocks]]. */
  private[graft] def distributedRank(df: DataFrame, partCols: Seq[String],
      orderCols: Seq[Column]): DataFrame = {
    val keyed = partCols :+ "pid"
    val parted = Materialize(df
      .repartitionByRange(partCols.map(col) ++ orderCols: _*)
      .withColumn("pid", spark_partition_id()))
    val local = parted.withColumn("rn_local", row_number().over(
      Window.partitionBy(keyed.map(col): _*).orderBy(orderCols: _*)))
    val offs = local.groupBy(keyed.map(col): _*).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(
        Window.partitionBy(partCols.map(col): _*).orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(
        Window.partitionBy(partCols.map(col): _*)))
      .select(keyed.map(col) :+ col("off") :+ col("n"): _*)
    local.join(broadcast(offs), keyed)
      .withColumn("rn", col("off") + col("rn_local"))
      .drop("pid", "rn_local")
  }

  /** Per-type Gini coefficient of user spend concentration — the scalar
    * twin of [[paretoCurve]]'s decile curve (0 = perfectly equal spend,
    * →1 = one user is the whole market). Uses the ranked form
    * G = (2·Σ rᵢxᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) with spend ascending: Σ rᵢxᵢ
    * is invariant under tie reordering (equal xᵢ swap ranks freely), so
    * the (spend, user_id) total order makes it engine-exact. Spend and
    * the rank-weighted sum accumulate as DECIMAL; one double division at
    * the end in fixed textual order. The global rank is DISTRIBUTED
    * ([[distributedRank]]) — no single-task window at any scale. */
  def giniConcentration(events: DataFrame): DataFrame = {
    val spend = events.groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)")
        .as("spend"))
    distributedRank(spend, Seq("event_type"),
        Seq(col("spend").asc, col("user_id").asc))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_users"),
        sum(col("spend")).cast("decimal(38,2)").as("total"),
        sum(col("rn") * col("spend")).cast("decimal(38,2)").as("rank_wsum"))
      .select(col("event_type"), col("n_users"),
        col("total").cast("double").as("total_value"),
        ((lit(2.0) * col("rank_wsum").cast("double")
          - (col("n_users") + 1).cast("double") * col("total").cast("double"))
          / (col("n_users").cast("double") * col("total").cast("double")))
          .as("gini"))
  }

  /** Per-type OLS trend line of value against time: slope (value units
    * per DAY), intercept (value units at the epoch base), and R². Time
    * enters as INTEGER seconds since 2024-01-01 UTC (a shared literal
    * base keeps the moment magnitudes bounded); value as its exact cent
    * grid. The five moment sums (Σt, Σy, Σt², Σty, Σy²) accumulate as
    * DECIMAL(38,0) — order-independent — and the slope/intercept/R²
    * derive in ONE fixed-order double expression, so both engines
    * reproduce the doubles bit-for-bit (the oracle converts its HUGEINT
    * sums to double via VARCHAR: DuckDB's direct int128→double cast is
    * off by an ulp near 10¹⁹, its string parse is correctly rounded).
    * Zero time-variance (all events of a type in one second) nulls the
    * slope (guarded). One map-side-partial aggregate over the scan. */
  def trendLine(events: DataFrame): DataFrame = {
    val baseUs = 1704067200000000L // 2024-01-01T00:00:00Z
    val y = (col("value").cast("decimal(18,2)") * 100).cast("decimal(10,0)")
    val d = (c: Column) => c.cast("double")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    events
      .select((tsUs(col("ts")) - baseUs).as("t_us"), y.as("y"),
        col("event_type"))
      .select(expr("t_us div 1000000").as("t"), col("y"), col("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        dec(sum(col("t"))).as("st"), dec(sum(col("y"))).as("sy"),
        dec(sum(col("t") * col("t"))).as("stt"),
        dec(sum(col("t") * col("y"))).as("sty"),
        dec(sum(col("y") * col("y"))).as("syy"))
      .withColumn("var_t",
        d(col("n")) * d(col("stt")) - d(col("st")) * d(col("st")))
      .withColumn("var_y",
        d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))
      .withColumn("cov_ty",
        d(col("n")) * d(col("sty")) - d(col("st")) * d(col("sy")))
      .select(col("event_type"), col("n"),
        when(col("var_t") <= 0d, lit(null).cast("double"))
          .otherwise(col("cov_ty") / col("var_t") * 86400.0 / 100.0)
          .as("slope_per_day"),
        when(col("var_t") <= 0d, lit(null).cast("double"))
          .otherwise((d(col("sy")) / d(col("n"))
            - col("cov_ty") / col("var_t") * d(col("st")) / d(col("n")))
            / 100.0)
          .as("intercept"),
        when(col("var_t") <= 0d || col("var_y") <= 0d,
            lit(null).cast("double"))
          .otherwise(col("cov_ty") * col("cov_ty")
            / (col("var_t") * col("var_y")))
          .as("r2"))
  }

  /** SCD Type-2 state history from the event stream: collapse each
    * user's consecutive same-type runs into (state, valid_from,
    * valid_to, is_current) intervals — the standard
    * slowly-changing-dimension build every warehouse pipeline runs.
    * Change detection is `lag` over the (t, event_id) total order
    * (duplicate timestamps break deterministically on event_id);
    * `valid_to` is the NEXT change's start (`lead` over change rows
    * only), NULL on the open current interval. Both windows partition
    * by user_id — bounded by one user's history, never a global sort. */
  def scd2(events: DataFrame): DataFrame = {
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    val changes = events
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsUs(col("ts")).as("t"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(ord))
      .filter(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
    changes
      .withColumn("valid_to_us", lead(col("t"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))))
      .select(col("user_id"), col("event_type").as("state"),
        col("t").as("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"))
  }

  /** RFM customer segmentation over the orders table: quintile scores
    * (1..5, higher = better) for Recency (latest order date), Frequency
    * (order count), and Monetary (exact DECIMAL revenue), each ranked
    * over a strict (metric, custkey) total order and bucketed by the
    * integer formula score = (rn−1)·5 div n + 1 — pure integer
    * arithmetic, no percentile interpolation, identical on any engine.
    * All three ranks are DISTRIBUTED ([[distributedRank]]) over the
    * customer-sized frame; the segment label concatenates the scores
    * ("555" = best). At 100 TB the frame is |customers| rows — three
    * range exchanges of a pre-aggregated frame, no global window. */
  def rfmSegments(orders: DataFrame): DataFrame = {
    val base = orders.groupBy(col("o_custkey"))
      .agg(max(tsUs(col("o_orderdate"))).as("rec_us"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(18,2)")
          .as("money"))
    def score(df: DataFrame, metric: Column, as: String): DataFrame =
      distributedRank(df, Seq.empty, Seq(metric.asc, col("o_custkey").asc))
        .withColumn(as, expr("((rn - 1) * 5) div n").cast("int") + 1)
        .drop("rn", "n", "off", "cnt")
    val scored = score(score(score(base,
      col("rec_us"), "r_score"), col("freq"), "f_score"),
      col("money"), "m_score")
    scored.select(col("o_custkey"), col("rec_us"), col("freq"),
      col("money").cast("double").as("money"),
      col("r_score"), col("f_score"), col("m_score"),
      concat(col("r_score").cast("string"), col("f_score").cast("string"),
        col("m_score").cast("string")).as("segment"))
  }

  /** Last-touch marketing attribution: each `convType` event's value is
    * credited to the user's most recent OTHER event type within
    * `horizonUs` before it ("what drove the purchase"); conversions
    * with no qualifying touch credit the "direct" channel. The prior
    * touch comes from `last(..., ignoreNulls)` over the (t, event_id)
    * total order with a `[unbounded, -1]` frame — per-user windows,
    * bounded by one user's history, and the tie order is deterministic.
    * Values accumulate as exact DECIMAL; output is |channels| rows. */
  def attributionLastTouch(events: DataFrame, convType: String,
      horizonUs: Long): DataFrame = {
    val before = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= convType, col("event_type"))
    val touchT = when(col("event_type") =!= convType, col("t"))
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        tsUs(col("ts")).as("t"), col("value"))
      .withColumn("touch_type", last(touch, ignoreNulls = true).over(before))
      .withColumn("touch_t", last(touchT, ignoreNulls = true).over(before))
      .filter(col("event_type") === convType)
      .withColumn("channel",
        when(col("touch_type").isNull ||
          col("t") - col("touch_t") > horizonUs, lit("direct"))
          .otherwise(col("touch_type")))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("attributed_value"))
  }

  /** Equi-depth histogram boundaries of `value` per event type — the
    * statistics-collection primitive a cost-based optimizer (or a data
    * profiler) materializes: the value at rank ⌊k·n/buckets⌋ for
    * k = 1..buckets over the strict (value, event_id) total order.
    * Built on [[distributedRank]], so no single-task global sort; the
    * boundary filter keeps ≤ `buckets` rows per type. When a type has
    * fewer rows than buckets, coinciding boundary ranks collapse (rank
    * is emitted, so the collapse is visible). */
  def equiDepthBoundaries(events: DataFrame, buckets: Int): DataFrame = {
    val ranked = distributedRank(
      events.select(col("event_type"), col("event_id"), col("value")),
      Seq("event_type"), Seq(col("value").asc, col("event_id").asc))
    val isBoundary = (1 to buckets)
      .map(k => col("rn") === expr(s"(n * $k) div $buckets"))
      .reduce(_ || _)
    ranked.filter(isBoundary)
      .select(col("event_type"), col("rn").as("rk"), col("n"),
        col("value").as("boundary"))
  }

  /** Cohort lifetime-value curves: users cohort by first-seen hour (the
    * [[graft.operators.TimeSeries.retentionCohorts]] convention), then
    * each (cohort, hour-offset) accumulates exact DECIMAL value into a
    * running LTV-per-user. The cumulative window partitions by cohort
    * over hour offsets — bounded by the calendar span, never by user
    * volume; everything upstream is keyed hash aggregation. */
  def cohortLtv(events: DataFrame): DataFrame = {
    val firstSeen = events.groupBy(col("user_id"))
      .agg(min(tsUs(date_trunc("hour", col("ts")))).as("cohort_us"))
    val sizes = firstSeen.groupBy(col("cohort_us"))
      .agg(count(lit(1)).as("cohort_users"))
    val period = events
      .select(col("user_id"), tsUs(date_trunc("hour", col("ts"))).as("active_us"),
        col("value"))
      .join(firstSeen, "user_id")
      .withColumn("offset_h", expr("(active_us - cohort_us) div 3600000000"))
      .groupBy(col("cohort_us"), col("offset_h"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)")
        .as("period_value"))
    period
      .join(sizes, "cohort_us")
      .withColumn("cum_value",
        sum(col("period_value")).over(Window.partitionBy(col("cohort_us"))
          .orderBy(col("offset_h"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("decimal(18,2)"))
      .select(col("cohort_us"), col("offset_h"), col("cohort_users"),
        col("period_value").cast("double").as("period_value"),
        col("cum_value").cast("double").as("cum_value"),
        (col("cum_value").cast("double") / col("cohort_users").cast("double"))
          .as("ltv_per_user"))
  }

  /** Two-proportion A/B test on user conversion: variant = user_id
    * parity (the deterministic hash-split convention), conversion = the
    * user ever fired `convType`. Emits ONE row with both arms' exact
    * counts, their rates, and the pooled two-proportion z statistic —
    * rates and z derive from exact integers in one fixed-order double
    * expression (sqrt is IEEE-exact), so engines agree bit-for-bit.
    * Degenerate pools (p = 0 or 1, or an empty arm) null the z, never
    * NaN. Two keyed aggregations, single-row result. */
  def abTest(events: DataFrame, convType: String): DataFrame = {
    val byUser = events.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === convType, 1L).otherwise(0L))
        .as("conv"))
      .withColumn("is_a", pmod(col("user_id"), lit(2L)) === 0)
    val d = (c: Column) => c.cast("double")
    byUser.agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("is_a"), col("conv")).otherwise(0L)).as("conv_a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("is_a"), col("conv")).otherwise(0L)).as("conv_b"))
      .withColumn("rate_a",
        when(col("n_a") > 0, d(col("conv_a")) / d(col("n_a"))))
      .withColumn("rate_b",
        when(col("n_b") > 0, d(col("conv_b")) / d(col("n_b"))))
      .withColumn("p_pool",
        when(col("n_a") + col("n_b") > 0,
          d(col("conv_a") + col("conv_b")) / d(col("n_a") + col("n_b"))))
      .withColumn("z",
        when(col("n_a") > 0 && col("n_b") > 0 &&
            col("p_pool") > 0d && col("p_pool") < 1d,
          (col("rate_a") - col("rate_b")) /
            sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
              (lit(1.0) / d(col("n_a")) + lit(1.0) / d(col("n_b"))))))
      .drop("p_pool")
  }

  /** Linear multi-touch attribution: each `convType` event's value
    * splits EQUALLY across all its qualifying touches (non-conversion
    * events strictly before it in the (t, event_id) order and within
    * `horizonUs`); touchless conversions credit "direct" whole. Output
    * granularity is (channel, n_touches): credited value there is the
    * EXACT decimal sum of the member conversions' values divided by n
    * ONCE — Σ value/n = (Σ value)/n within a fixed n, so no
    * order-dependent double accumulation exists anywhere. The
    * conversion×touch pairing is a per-user range join bounded by the
    * horizon (the interval-join cost class, never corpus²); the
    * n-per-conversion count is a window over one conversion's touches. */
  def attributionLinear(events: DataFrame, convType: String,
      horizonUs: Long): DataFrame = {
    val e = events.select(col("user_id"), col("event_id"), col("event_type"),
      tsUs(col("ts")).as("t"), col("value"))
    val conv = e.filter(col("event_type") === convType)
      .select(col("user_id"), col("t").as("t_conv"),
        col("event_id").as("conv_id"),
        col("value").cast("decimal(18,2)").as("v"))
    val touch = e.filter(col("event_type") =!= convType)
      .select(col("user_id").as("tu"), col("t").as("t_touch"),
        col("event_id").as("touch_id"), col("event_type").as("channel"))
    val before = col("t_touch") < col("t_conv") ||
      (col("t_touch") === col("t_conv") && col("touch_id") < col("conv_id"))
    val pairs = conv.join(touch,
      col("user_id") === col("tu") && before &&
        col("t_conv") - col("t_touch") <= horizonUs, "left")
    val perConv = Window.partitionBy(col("user_id"), col("conv_id"))
    pairs
      .withColumn("n_touches", count(col("touch_id")).over(perConv))
      .select(coalesce(col("channel"), lit("direct")).as("channel"),
        col("n_touches"), col("v"))
      .groupBy(col("channel"), col("n_touches"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("v")).cast("decimal(38,2)").as("value_sum"))
      .select(col("channel"), col("n_touches"), col("n_pairs"),
        when(col("n_touches") === 0, col("value_sum").cast("double"))
          .otherwise(col("value_sum").cast("double") /
            col("n_touches").cast("double"))
          .as("credited_value"))
  }

  /** Join-key skew report — the diagnostics a 100-TB deployment runs
    * BEFORE choosing salting/broadcast strategies: per audited key, the
    * row count, distinct-key count, hottest key (deterministic
    * (cnt, key-string) struct-argmax: ties break on the string), and
    * the skew factor max_cnt·n_keys/n_rows (1 = uniform). Each key is
    * one map-side-partial count aggregate collapsing to a single row. */
  def skewReport(df: DataFrame, table: String,
      keys: Seq[String]): DataFrame =
    keys.map { k =>
      df.groupBy(col(k)).agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).as("n_rows"), count(lit(1)).as("n_keys"),
          max(col("cnt")).as("max_cnt"),
          max(struct(col("cnt"), col(k).cast("string").as("k")))
            .as("top"))
        .select(lit(s"$table.$k").as("key_name"), col("n_rows"),
          col("n_keys"), col("max_cnt"),
          col("top").getField("k").as("top_key"),
          ((col("max_cnt") * col("n_keys")).cast("double") /
            col("n_rows").cast("double")).as("skew_factor"))
    }.reduce(_ unionByName _)

  /** CDF / percent-rank normalization of `value` per event type — the
    * rank-based feature-scaling transform an ML pipeline applies before
    * training (robust to outliers, uniform marginals). cdf =
    * (rn−1)/(n−1) over the strict (value, event_id) total order, 0.5
    * for a single-row type (guarded). Rides [[distributedRank]]: no
    * single-task global sort at any scale. */
  def cdfNormalize(events: DataFrame): DataFrame =
    distributedRank(
        events.select(col("event_id"), col("event_type"), col("value")),
        Seq("event_type"), Seq(col("value").asc, col("event_id").asc))
      .select(col("event_id"), col("event_type"), col("value"),
        when(col("n") === 1, 0.5)
          .otherwise((col("rn") - 1).cast("double") /
            (col("n") - 1).cast("double")).as("cdf"))

  /** Winsorize `value` per event type at the integer-position p01/p99
    * order statistics (rank ⌈n·p/100⌉ over the strict (value, event_id)
    * total order — the engine-exact quantile convention shared with
    * [[funnelLatency]]): values clip into [p01, p99], the standard
    * outlier-taming transform before training. One [[distributedRank]]
    * pass; the two boundary rows per type reduce map-side and broadcast
    * back — the ranked fact re-evaluates once per branch from the
    * helper's pinned exchange (deterministic either way). */
  def winsorize(events: DataFrame): DataFrame = {
    val ranked = distributedRank(
      events.select(col("event_id"), col("event_type"), col("value")),
      Seq("event_type"), Seq(col("value").asc, col("event_id").asc))
    val bounds = ranked.groupBy(col("event_type"))
      .agg(max(when(col("rn") === expr("(n * 1 + 99) div 100"), col("value")))
          .as("lo"),
        max(when(col("rn") === expr("(n * 99 + 99) div 100"), col("value")))
          .as("hi"))
    ranked.join(broadcast(bounds), "event_type")
      .select(col("event_id"), col("event_type"), col("value"),
        least(greatest(col("value"), col("lo")), col("hi")).as("clipped"))
  }

  /** Hourly conversion rate with the Wilson 95% lower bound — the
    * ranking statistic that doesn't overrate tiny samples (a 1/1 hour
    * must not beat 95/100). Trials = distinct active users per hour,
    * successes = distinct converting users; the bound
    * (p + z²/2n − z·√(p(1−p)/n + z²/4n²)) / (1 + z²/n) uses the z=1.96
    * literal and only exactly-converted integers, fixed-order double
    * arithmetic, and IEEE sqrt — engine-identical, no libm
    * transcendentals. Two distinct-aggregates per hour bucket. */
  def wilsonConversion(events: DataFrame, convType: String): DataFrame = {
    val d = (c: Column) => c.cast("double")
    val z = 1.96
    events
      .groupBy(tsUs(date_trunc("hour", col("ts"))).as("bucket_us"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        countDistinct(when(col("event_type") === convType, col("user_id")))
          .as("n_conv"))
      .withColumn("p", d(col("n_conv")) / d(col("n_users")))
      .withColumn("wilson_lo",
        (col("p") + lit(z * z) / (lit(2.0) * d(col("n_users")))
          - lit(z) * sqrt(col("p") * (lit(1.0) - col("p")) / d(col("n_users"))
            + lit(z * z) /
              (lit(4.0) * d(col("n_users")) * d(col("n_users")))))
          / (lit(1.0) + lit(z * z) / d(col("n_users"))))
      .select(col("bucket_us"), col("n_users"), col("n_conv"),
        col("p").as("rate"), col("wilson_lo"))
  }

  /** Leave-one-out target encoding of event_type → value: each row gets
    * the mean of its group's OTHER rows, (Σ−v)/(n−1) — the leakage-safe
    * categorical feature an ML pipeline derives before training (plain
    * group means leak the row's own label). Σ and v live on the exact
    * cent grid, so Σ−v is exact decimal and the one double division is
    * engine-identical; singleton groups yield NULL (guarded). The
    * per-type (Σ, n) frame is |types| rows — a broadcast join back. */
  def targetEncodeLoo(events: DataFrame): DataFrame = {
    val stats = events.groupBy(col("event_type"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)")
        .as("s"), count(lit(1)).as("n"))
    events
      .select(col("event_id"), col("event_type"),
        col("value").cast("decimal(18,2)").as("v"))
      .join(broadcast(stats), "event_type")
      .select(col("event_id"), col("event_type"),
        col("v").cast("double").as("value"),
        when(col("n") === 1, lit(null).cast("double"))
          .otherwise((col("s") - col("v")).cast("double") /
            (col("n") - 1).cast("double"))
          .as("loo_mean"))
  }

  /** k-anonymity / l-diversity audit over the (event_type, hour-of-day)
    * quasi-identifier: how many QI groups are smaller than k (re-identi-
    * fication risk), what fraction of rows sit in them, and the minimum
    * per-group distinct-user count (l-diversity). One QI-keyed hash
    * aggregate collapsing to a single summary row — the privacy gate a
    * training-data release pipeline runs before export. */
  def kAnonymity(events: DataFrame, k: Long): DataFrame =
    events
      .select(col("event_type"), hour(col("ts")).as("hod"), col("user_id"))
      .groupBy(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("user_id")).as("l_div"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("cnt") < k, 1L).otherwise(0L)).as("n_small_groups"),
        sum(when(col("cnt") < k, col("cnt")).otherwise(0L))
          .as("rows_at_risk"),
        sum(col("cnt")).as("n_rows"),
        min(col("l_div")).as("min_l_diversity"))
      .select(lit(k).as("k"), col("n_groups"), col("n_small_groups"),
        col("rows_at_risk"), col("n_rows"),
        (col("rows_at_risk").cast("double") / col("n_rows").cast("double"))
          .as("pct_rows_at_risk"),
        col("min_l_diversity"))

  /** Benford first-digit audit of a positive amount column: observed vs
    * expected leading-digit shares — the classic fabricated-data / drift
    * screen for financial columns. The leading digit is extracted from
    * the DECIMAL STRING of the truncated amount (bigint→string renders
    * identically on every engine; `log10(amount)` would hinge on libm
    * agreeing to the last ulp, and a power-of-10 boundary could round
    * across a digit). Expected shares are the nine Benford constants as
    * shared double literals (log10(1+1/d) precomputed once, identical
    * text in the oracle) — no runtime logarithm anywhere. Shares divide
    * exact counts as doubles; the final frame is 9 rows, so the global
    * share window is trivially bounded. One map-side-partial hash
    * aggregate over the scan — scales linearly. */
  def benfordDigits(df: DataFrame, amountCol: String): DataFrame = {
    val expected = Map(
      1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
      3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
      5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
      7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
      9 -> 0.04575749056067514)
    val digit = substring(floor(col(amountCol)).cast("bigint").cast("string"), 1, 1)
      .cast("int")
    val exp = expected.foldLeft(lit(null).cast("double")) { case (acc, (d, p)) =>
      when(col("digit") === d, lit(p)).otherwise(acc)
    }
    df.filter(col(amountCol) >= 1)
      .select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("cnt"))
      .withColumn("share", col("cnt").cast("double") /
        sum(col("cnt")).over(Window.partitionBy()).cast("double"))
      .withColumn("expected", exp)
      .select(col("digit"), col("cnt"), col("share"), col("expected"),
        (col("share") - col("expected")).as("dev"))
  }

  /** Per-user Simpson diversity of event types: 1 − Σ pᵢ² — how spread a
    * user's activity is across types (0 = single-type, →1 = uniform over
    * many). Chosen over Shannon entropy DELIBERATELY: Simpson is pure
    * rational-count arithmetic ((tot² − Σcntᵢ²)/tot², one IEEE division
    * of exactly-converted integers), so any engine reproduces it
    * bit-for-bit, whereas entropy's per-term logarithm would pin the
    * result to libm's last ulp. tot ≤ a user's event count, so tot² is
    * far under Long.Max. Two map-side-partial hash aggregates
    * ((user, type) then user) — linear, no window, no skew exposure. */
  def userDiversity(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_types"), sum(col("cnt")).as("n_events"),
        sum(col("cnt") * col("cnt")).as("ss"))
      .select(col("user_id"), col("n_types"), col("n_events"),
        ((col("n_events") * col("n_events") - col("ss")).cast("double") /
          (col("n_events") * col("n_events")).cast("double")).as("simpson"))

  /** Per-type skewness and excess kurtosis from EXACT integer raw
    * moments: value is quantized once to its cent grid (the established
    * DECIMAL(18,2) engine-portable cast) and scaled to a fixed-point
    * integer v = 100·value, then Σv, Σv², Σv³, Σv⁴ accumulate as
    * DECIMAL(38,0) — associative and engine-replayable (v ≤ 5.7·10⁴ here
    * puts v⁴ just OVER Long.Max, which is exactly why the sums are
    * decimal, not bigint). The standardized moments then derive in ONE
    * fixed-order double expression per column (mean = Σv/(100n), m2/m3/m4
    * via the raw-moment expansions, skew = m3/(sd·sd·sd),
    * kurt = m4/(m2·m2) − 3) — every double op is on exactly-converted
    * decimals in identical textual order on both engines, and sqrt is
    * IEEE-exact. Zero variance nulls both (guarded). One
    * map-side-partial aggregate over the scan — linear at any scale. */
  def skewKurtosis(events: DataFrame): DataFrame = {
    val v = (col("value").cast("decimal(18,2)") * 100).cast("decimal(10,0)")
    val d = (c: Column) => c.cast("double")
    events
      .select(col("event_type"), v.as("v"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("v")).cast("decimal(38,0)").as("s1"),
        sum(col("v") * col("v")).cast("decimal(38,0)").as("s2"),
        sum(col("v") * col("v") * col("v")).cast("decimal(38,0)").as("s3"),
        sum(col("v") * col("v") * col("v") * col("v")).cast("decimal(38,0)")
          .as("s4"))
      .select(col("event_type"), col("n"),
        (d(col("s1")) / d(col("n")) / 100.0).as("mean"),
        col("s1").as("s1_fx"), col("s2").as("s2_fx"),
        col("s3").as("s3_fx"), col("s4").as("s4_fx"))
      .withColumn("m2",
        (d(col("s2_fx")) - d(col("s1_fx")) * d(col("s1_fx")) / d(col("n")))
          / d(col("n")) / 10000.0)
      .withColumn("m3",
        (d(col("s3_fx")) - lit(3.0) * d(col("s1_fx")) * d(col("s2_fx")) / d(col("n"))
          + lit(2.0) * d(col("s1_fx")) * d(col("s1_fx")) * d(col("s1_fx"))
            / (d(col("n")) * d(col("n")))) / d(col("n")) / 1000000.0)
      .withColumn("m4",
        (d(col("s4_fx")) - lit(4.0) * d(col("s1_fx")) * d(col("s3_fx")) / d(col("n"))
          + lit(6.0) * d(col("s1_fx")) * d(col("s1_fx")) * d(col("s2_fx"))
            / (d(col("n")) * d(col("n")))
          - lit(3.0) * d(col("s1_fx")) * d(col("s1_fx")) * d(col("s1_fx"))
            * d(col("s1_fx")) / (d(col("n")) * d(col("n")) * d(col("n"))))
          / d(col("n")) / 100000000.0)
      .select(col("event_type"), col("n"), col("mean"), col("m2").as("variance"),
        when(col("m2") <= 0d, lit(null).cast("double"))
          .otherwise(col("m3") / (sqrt(col("m2")) * sqrt(col("m2"))
            * sqrt(col("m2")))).as("skewness"),
        when(col("m2") <= 0d, lit(null).cast("double"))
          .otherwise(col("m4") / (col("m2") * col("m2")) - 3.0).as("kurtosis"))
  }
}
