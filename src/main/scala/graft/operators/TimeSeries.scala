package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.shardHourCol

/** Reference-fidelity time-series operators over an events table
  * (`event_id, ts: timestamp, user_id, event_type, value, props`).
  *
  * Maps SURVEY.md §2.1 O2-O6 onto declarative Spark plans:
  *  - the hour-shard arithmetic (insight.cpp:9-14) is a derived column;
  *  - the inclusive range predicate (insight.cpp:42) is a pushed-down filter;
  *  - the 10k result cap (api/main.py:85) is an ORDERED limit (the reference
  *    caps in scan order; we sort first so results are deterministic and
  *    oracle-comparable — SURVEY.md §7 "limit determinism").
  *
  * Scale notes (100 TB design): every op here is a narrow scan + pushed
  * filter, or an aggregation whose partial (map-side) phase Spark applies
  * automatically; window ops partition by a series key (`event_type` /
  * `user_id`) so no single-partition global window exists in the hot path.
  */
object TimeSeries {

  /** Epoch microseconds of a timestamp column — the oracle-stable wire form
    * for timestamps (avoids engine-specific timestamp rendering). */
  def tsUs(c: Column): Column = unix_micros(c)

  /** Hour bucket owning `ts` (insight.cpp:6,9-14): floor(epoch_ms / 3_600_000).
    * `unix_millis` floor-divides micros→ms exactly like DuckDB's `epoch_ms`. */
  def shardHour(c: Column): Column = shardHourCol(unix_millis(c))

  /** Exact-sum helper: double → decimal(18,2) (the testdata values are
    * 2-decimal), summed exactly (order-independent), then back to double so
    * Spark and DuckDB produce bit-identical results regardless of row order. */
  private def exactSum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** O3+O4: inclusive time-range scan. `filter` + parquet pushdown replaces
    * the reference's manual shard loop + post-decode filter (insight.cpp:26-46).
    *
    * When the source kept its raw nanos column (`ts_ns`), the predicate is
    * ALSO applied there: a filter on the physical column reaches parquet
    * row-group stats, while the equivalent predicate on the derived
    * `timestamp_micros(...)` expression cannot be pushed. The nanos bounds
    * are derived from the SAME session-TZ timestamp cast as the main filter
    * (constant-folded to literals, so pushdown still applies) — no separate
    * parse that could disagree on time zone or format. Micros range [s, e]
    * ⇔ nanos range [s·1000, e·1000 + 999] (truncating division). */
  def rangeScan(events: DataFrame, startTs: String, endTs: String): DataFrame = {
    val startC = lit(startTs).cast("timestamp")
    val endC = lit(endTs).cast("timestamp")
    val base = events.filter(col("ts").between(startC, endC))
    val pruned =
      if (events.columns.contains("ts_ns"))
        base.filter(col("ts_ns").between(
          unix_micros(startC) * lit(1000L),
          unix_micros(endC) * lit(1000L) + lit(999L)))
      else base
    pruned.select(col("event_id"), tsUs(col("ts")).as("ts_us"), col("value"))
  }

  /** Range aggregate of the scan family (r15): count/min/max of `value`
    * over the inclusive time range — the query SHAPE that
    * [[graft.operators.Snapshot.rangeStats]] answers from manifest stats
    * on a snapshot store. Here (over the raw events table) it is one
    * pushed-filter scan into a partial+final agg; the declared query
    * gives the shape oracle coverage, and the store-side spec pins the
    * manifest path to this scan semantics. Reuses [[rangeScan]]'s
    * filters so the ts/ts_ns pushdown behavior is identical. */
  def rangeStats(events: DataFrame, startTs: String, endTs: String): DataFrame =
    rangeScan(events, startTs, endTs)
      .agg(count(lit(1)).as("n_points"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))

  /** O5: ordered range scan with a row cap (reference BUFFER_CAPACITY,
    * api/main.py:85). Sorted on (ts, event_id) before limiting →
    * deterministic; Spark plans this as TakeOrderedAndProject (top-k per
    * partition then merge — no global sort/shuffle of the full set). */
  def rangeScanLimit(events: DataFrame, startTs: String, endTs: String, cap: Int): DataFrame =
    rangeScan(events, startTs, endTs)
      .orderBy(col("ts_us"), col("event_id"))
      .limit(cap)

  /** O2: shard routing made relational — per hour-bucket row counts and
    * bounds. At scale this is one partial+final hash aggregation; with
    * hour-partitioned storage ([[graft.operators.Ingest]]) the bucket column
    * is the partition key and the scan prunes to the predicate's buckets. */
  def shardPrune(events: DataFrame): DataFrame =
    events
      .groupBy(shardHour(col("ts")).as("shard_hour"))
      .agg(
        count(lit(1)).as("n_points"),
        min(tsUs(col("ts"))).as("min_ts_us"),
        max(tsUs(col("ts"))).as("max_ts_us"))

  /** Extension: tumbling 1-hour downsample (avg/min/max/count per bucket) —
    * `date_trunc` + hash agg; partial aggregation makes this shuffle-light. */
  def downsample1h(events: DataFrame): DataFrame =
    events
      .groupBy(tsUs(date_trunc("hour", col("ts"))).as("bucket_us"))
      .agg(
        count(lit(1)).as("n_points"),
        exactSum(col("value")).as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))

  /** Delta / delta-of-delta (the reference's compression math, shard.cpp:107-119,
    * expressed relationally): value − lag(value), per series (event_type),
    * ordered by (ts, event_id). Partitioned window → scales horizontally. */
  def windowDelta(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    events.select(
      col("event_id"),
      col("event_type"),
      tsUs(col("ts")).as("ts_us"),
      col("value"),
      (col("value") - lag(col("value"), 1).over(w)).as("delta"),
      (tsUs(col("ts")) - lag(tsUs(col("ts")), 1).over(w)).as("ts_delta_us"))
  }

  /** Moving aggregate over the trailing 60 rows per series. The frame sum is
    * computed in exact decimal then divided by the frame count — deterministic
    * across engines and row orders. */
  def movingAvg(events: DataFrame, trailing: Int = 59): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-trailing, Window.currentRow)
    events.select(
      col("event_id"),
      col("event_type"),
      tsUs(col("ts")).as("ts_us"),
      (sum(col("value").cast("decimal(18,2)")).over(w).cast("double") /
        count(lit(1)).over(w)).as("moving_avg"))
  }

  /** OHLC bars: open/high/low/close per (series, hour bucket) — the classic
    * TSDB resample. ONE hash aggregation, no window sort: open/close are
    * `min_by`/`max_by` keyed on the (ts, event_id) struct (event_id is
    * unique, so the key is a total order and the result deterministic);
    * partial aggregation collapses map-side, the shuffle carries one row
    * per (series, bucket). The oracle reproduces the same selection with a
    * two-direction row_number formulation. */
  def ohlcBars(events: DataFrame): DataFrame = {
    val key = struct(tsUs(col("ts")).as("t"), col("event_id").as("e"))
    events
      .groupBy(col("event_type"), tsUs(date_trunc("hour", col("ts"))).as("bucket_us"))
      .agg(
        min_by(col("value"), key).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), key).as("close"),
        count(lit(1)).as("n_points"))
  }

  /** M4 visualization downsample (Jugel et al., VLDB 2014): per (series,
    * pixel bucket) the FIRST, LAST, MIN-value and MAX-value samples with
    * their timestamps — the standard error-free min/max downsampler for
    * line charts at any zoom, complementing [[lttb]] (which picks one
    * perceptually-representative point per bucket; M4 guarantees the
    * rendered pixel column is exact). Buckets map the series' [t0, t1]
    * span onto `w` equal pixels with pure integer arithmetic
    * (`(ts−t0)·w div (t1−t0+1)`); the span attaches as a broadcast
    * single-row frame. Every argmin/argmax is deterministic: (ts,
    * event_id) keys first/last, (value, ts, event_id) keys min/max. One
    * hash aggregate; output ≤ w·|series| rows regardless of input size. */
  def m4(events: DataFrame, w: Int): DataFrame = {
    require(w >= 1, "need at least one pixel bucket")
    val span = events.agg(min(tsUs(col("ts"))).as("t0"),
      (max(tsUs(col("ts"))) - min(tsUs(col("ts"))) + 1L).as("dur"))
    val okey = struct(col("ts_us").as("t"), col("event_id").as("e"))
    val vkey = struct(col("value").as("v"), col("ts_us").as("t"),
      col("event_id").as("e"))
    val pt = struct(col("ts_us").as("t"), col("value").as("v"))
    events.withColumn("ts_us", tsUs(col("ts")))
      .crossJoin(broadcast(span))
      .groupBy(col("event_type"),
        expr(s"((ts_us - t0) * $w) div dur").as("bucket"))
      .agg(
        min_by(pt, okey).as("first"),
        max_by(pt, okey).as("last"),
        min_by(pt, vkey).as("lo"),
        max_by(pt, vkey).as("hi"),
        count(lit(1)).as("n_points"))
      .select(col("event_type"), col("bucket"),
        col("first.t").as("t_first"), col("first.v").as("v_first"),
        col("last.t").as("t_last"), col("last.v").as("v_last"),
        col("lo.t").as("t_min"), col("lo.v").as("v_min"),
        col("hi.t").as("t_max"), col("hi.v").as("v_max"),
        col("n_points"))
  }

  /** Rolling Pearson correlation between two series over a trailing
    * window of hourly buckets — the co-movement monitor (ad clicks vs
    * views, CPU vs latency). Exactness: the five co-moment sums
    * accumulate in DECIMAL inside the window frame (exact, order-free —
    * summing doubles in a window is engine-traversal-dependent), each Σ
    * casts to double ONCE (correctly rounded), and the Pearson formula
    * runs in fixed double order — bit-identical on any engine.
    *
    * Window semantics — ROWS over PRESENT buckets, not wall-clock RANGE:
    * the frame is the last `windowHours` hourly buckets that CONTAIN at
    * least one event of either series; an hour with neither series does
    * not occupy a slot, so across gaps the "trailing 24h" spans more
    * than 24 wall-clock hours (gaps compress). A missing SIDE inside a
    * present bucket contributes exactly 0. Densify the hourly frame
    * first if strict calendar-trailing semantics are required.
    *
    * Scale: the events scan aggregates ONCE to a per-(type, hour) frame
    * (map-side partials), each pair's x/y columns attach by bucket join
    * of that hourly-sized frame, and the co-moment window is PARTITIONED
    * by the series pair — pair cardinality is the parallelism, and one
    * pair's frame is ≤ its span in hours (partition by a coarser
    * calendar unit if a single pair's span makes that large). Emits
    * only full windows. */
  def rollingCorr(events: DataFrame, pairs: Seq[(String, String)],
      windowHours: Int): DataFrame = {
    require(windowHours >= 2, "correlation needs at least two buckets")
    require(pairs.nonEmpty, "at least one series pair")
    // a repeated pair would union identical rows into the same
    // (type_x, type_y) window partition — cnt reaches windowHours at
    // half the real window and the correlations go silently wrong
    require(pairs.distinct.size == pairs.size,
      s"duplicate series pair in $pairs")
    val types = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
    val perType0 = events
      .filter(col("event_type").isin(types: _*))
      .groupBy(col("event_type"),
        tsUs(date_trunc("hour", col("ts"))).as("bucket_us"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("s"))
    // hourly-sized; reuse across pairs without rescanning the facts
    val perType =
      if (pairs.sizeIs > 1) Materialize(perType0) else perType0
    val zero = lit(0).cast("decimal(28,2)") // = sum(decimal(18,2)) type
    val perPair = pairs.map { case (tx, ty) =>
      // the pair key rides the DATA (event_type through the join, the
      // literal only as the absent-side fallback): a plain lit() pair
      // column is foldable, and FoldablePropagation then erases it from
      // the window's partition spec — silently degrading the partitioned
      // window back to a single-partition global one
      val xs = perType.filter(col("event_type") === tx)
        .select(col("bucket_us"), col("event_type").as("tx_src"),
          col("s").as("x"))
      val ys = perType.filter(col("event_type") === ty)
        .select(col("bucket_us"), col("event_type").as("ty_src"),
          col("s").as("y"))
      xs.join(ys, Seq("bucket_us"), "full_outer")
        .select(coalesce(col("tx_src"), lit(tx)).as("type_x"),
          coalesce(col("ty_src"), lit(ty)).as("type_y"), col("bucket_us"),
          coalesce(col("x"), zero).as("x"), coalesce(col("y"), zero).as("y"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(col("type_x"), col("type_y"))
      .orderBy(col("bucket_us"))
      .rowsBetween(-(windowHours - 1), Window.currentRow)
    val n = lit(windowHours.toLong).cast("double")
    perPair
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w).cast("double"))
      .withColumn("sy", sum(col("y")).over(w).cast("double"))
      .withColumn("sxy", sum(col("x") * col("y")).over(w).cast("double"))
      .withColumn("sxx", sum(col("x") * col("x")).over(w).cast("double"))
      .withColumn("syy", sum(col("y") * col("y")).over(w).cast("double"))
      .filter(col("cnt") === windowHours)
      .select(col("type_x"), col("type_y"), col("bucket_us"),
        ((n * col("sxy") - col("sx") * col("sy")) /
          (sqrt(n * col("sxx") - col("sx") * col("sx")) *
            sqrt(n * col("syy") - col("sy") * col("sy")))).as("rolling_r"))
  }

  /** Single-pair [[rollingCorr]] — same co-moments, same exactness, the
    * pair key dropped from the output (bit-identical to the multi-pair
    * form restricted to one pair; decimal sums are order-free, so the
    * join formulation and the conditional-sum formulation agree). */
  def rollingCorr(events: DataFrame, typeX: String, typeY: String,
      windowHours: Int): DataFrame =
    rollingCorr(events, Seq((typeX, typeY)), windowHours)
      .drop("type_x", "type_y")

  /** Alerting with hold-duration semantics (PromQL `for:`): an alert
    * episode is a maximal run of CONSECUTIVE breach hours — hours whose
    * mean value exceeds the threshold — at least `forHours` long; shorter
    * blips never fire. The breach test runs in EXACT decimal
    * (`100·Σvalue > cents·n`, never a double mean), so episode membership
    * is engine-exact; islands come from the classic gaps-and-islands key
    * (hour index − row_number), one partitioned window over the
    * HOURLY frame (≤ |series|·hours rows — aggregated first, so the
    * window never sees raw events). Output: one row per firing episode
    * with its span, length, and peak hourly mean. */
  def alertFor(events: DataFrame, thresholdCents: Long,
      forHours: Int): DataFrame = {
    require(forHours >= 1, "hold duration must be at least one bucket")
    val w = Window.partitionBy(col("event_type")).orderBy(col("bucket_us"))
    events
      .groupBy(col("event_type"), tsUs(date_trunc("hour", col("ts"))).as("bucket_us"))
      // try_cast, not cast: ANSI cast throws on a finite value past
      // decimal(18,2) range (a single 1e300 row would kill a monitoring
      // query); try_cast nulls it — sum skips the row, count(lit(1))
      // still counts it — identical to cast on every in-range value,
      // and the streaming operator mirrors this exactly
      .agg(sum(expr("try_cast(value as decimal(18,2))")).as("s"),
        count(lit(1)).as("n"))
      .filter(col("s") * 100 > lit(thresholdCents) * col("n"))
      .withColumn("grp",
        expr("bucket_us div 3600000000") - row_number().over(w))
      .groupBy(col("event_type"), col("grp"))
      .agg(
        min(col("bucket_us")).as("alert_start_us"),
        max(col("bucket_us")).as("alert_end_us"),
        count(lit(1)).as("n_hours"),
        max(col("s").cast("double") / col("n").cast("double")).as("peak_mean"))
      .filter(col("n_hours") >= forHours)
      .select(col("event_type"), col("alert_start_us"), col("alert_end_us"),
        col("n_hours"), col("peak_mean"))
  }

  /** Counter rate (PromQL-style `increase`): per series ordered by
    * (ts, event_id), the per-sample increase is `value - lag(value)`, and a
    * NEGATIVE delta is treated as a counter reset (the new value IS the
    * increase). Increases are attributed to the later sample's hour bucket
    * and summed exactly (decimal — the deltas of 2-decimal data are
    * 2-decimal). First sample per series has no increase (NULL, excluded
    * from the count). One partitioned window pass + one hash aggregation. */
  def counterRate(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val prev = lag(col("value"), 1).over(w)
    events
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .withColumn("inc",
        when(prev.isNull, lit(null).cast("double"))
          .when(col("value") >= prev, col("value") - prev)
          .otherwise(col("value")))
      .groupBy(col("event_type"), tsUs(date_trunc("hour", col("ts"))).as("bucket_us"))
      .agg(
        sum(col("inc").cast("decimal(18,2)")).cast("double").as("increase_sum"),
        count(col("inc")).as("n_increases"))
  }

  /** Time-weighted average per series: each sample holds its value
    * until the NEXT sample, so the mean weights values by holding
    * duration — the correct average over IRREGULARLY sampled series (a
    * plain avg over-counts burst periods; every industrial historian
    * ships this). The last sample has no holding interval and is
    * excluded (left-closed convention). The numerator accumulates as a
    * pure INTEGER (cent·µs units, decimal(38,0) against overflow): a
    * scale-2 decimal sum here would hash-mismatch in the last ulp,
    * because DuckDB converts decimal→double as int128→double THEN
    * /100 (two roundings) while the JVM rounds the exact rational once
    * — integers convert identically in both. The division chain
    * (num/den then /100) is the same two IEEE ops on both sides. One
    * per-series window sort + one map-side-partial hash agg; output is
    * one row per series. */
  def timeWeightedAvg(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts_us"), col("event_id"))
    events
      .select(col("event_type"), col("event_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"),
        tsUs(col("ts")).as("ts_us"))
      .withColumn("dur_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
      .filter(col("dur_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        (sum((col("cents") * col("dur_us")).cast("decimal(38,0)")).cast("double") /
          sum(col("dur_us")).cast("double") / lit(100.0)).as("twa"),
        count(lit(1)).as("n_intervals"))
  }

  /** Per-series gap/SLA report over irregular samples: with an expected
    * cadence `sloUs`, a series counts as covered for min(gap, sloUs)
    * after each sample — uptime = covered span / total span, plus the
    * max gap and the SLO-breach count. All-integer sums, one double
    * division at the end. Same window + bounded-agg shape as
    * [[timeWeightedAvg]]. */
  def availability(events: DataFrame, sloUs: Long): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts_us"), col("event_id"))
    events
      .select(col("event_type"), col("event_id"), tsUs(col("ts")).as("ts_us"))
      .withColumn("gap_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        max(col("gap_us")).as("max_gap_us"),
        sum(when(col("gap_us") > sloUs, 1L).otherwise(0L)).as("n_breaches"),
        (sum(least(col("gap_us"), lit(sloUs))).cast("double") /
          sum(col("gap_us")).cast("double")).as("uptime"))
  }

  /** Hourly active users: tumbling-hour distinct-user counts plus event
    * volume — the DAU/WAU shape at hour grain. One aggregation; the exact
    * distinct count EXPANDs the input once (Spark's distinct-agg rewrite),
    * which is the price of exactness — `approx_count_distinct` (spec'd
    * elsewhere) is the sketch alternative at extreme scale. */
  def hourlyActive(events: DataFrame): DataFrame =
    events
      .groupBy(tsUs(date_trunc("hour", col("ts"))).as("bucket_us"))
      .agg(countDistinct(col("user_id")).as("n_active_users"),
        count(lit(1)).as("n_events"))

  /** Retention cohorts: users grouped by their FIRST-seen hour, activity
    * counted per (cohort, activity hour) — the classic product-analytics
    * triangle. Two aggregations and one join on user_id: the first-seen
    * table is |users| rows (AQE broadcasts it when it fits; at 100× it
    * degrades to a shuffled join on the same key the second aggregate
    * already needs). */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val firstSeen = events
      .groupBy(col("user_id"))
      .agg(min(tsUs(date_trunc("hour", col("ts")))).as("cohort_us"))
    events
      .select(col("user_id"), tsUs(date_trunc("hour", col("ts"))).as("active_us"))
      .join(firstSeen, "user_id")
      .groupBy(col("cohort_us"), col("active_us"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Running total per series: cumulative DECIMAL sum over the
    * (ts, event_id) total order, cast back to double — exact and
    * order-independent within the frame, so engines agree bit-for-bit.
    * One partitioned window pass. */
  def cumSum(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.select(
      col("event_id"), col("event_type"), tsUs(col("ts")).as("ts_us"),
      sum(col("value").cast("decimal(18,2)")).over(w).cast("double").as("running_sum"))
  }

  /** Align two series onto the common hourly grid: per-series hourly
    * aggregates FULL-OUTER-joined on the bucket, absent side surfaced as
    * n=0 / NULL sum. The full-outer bucket join is the canonical series-
    * alignment shape (each side is already one aggregated row per bucket,
    * so the join is tiny regardless of raw event volume). */
  def seriesAlign(events: DataFrame, typeA: String, typeB: String): DataFrame = {
    def hourly(t: String, pre: String) = events
      .filter(col("event_type") === lit(t))
      .groupBy(tsUs(date_trunc("hour", col("ts"))).as("bucket_us"))
      .agg(exactSum(col("value")).as(s"${pre}_sum"),
        count(lit(1)).as(s"${pre}_n"))
    hourly(typeA, "a").join(hourly(typeB, "b"), Seq("bucket_us"), "full_outer")
      .select(col("bucket_us"),
        col("a_sum"), coalesce(col("a_n"), lit(0L)).as("a_n"),
        col("b_sum"), coalesce(col("b_n"), lit(0L)).as("b_n"))
  }

  /** Cross-correlation of two series' hourly sums at a bucket lag: Pearson r
    * over pairs (x_t, y_{t+lag}) via exact DECIMAL moment sums — the same
    * engine-portable formulation as [[Relational.corrStats]] (the corr()
    * built-in streams in row order and drifts across engines). The hourly
    * sums stay DECIMAL(18,2) until the moment products so every
    * intermediate is exact; only the final fixed-order double chain rounds. */
  def xcorrLag(events: DataFrame, typeA: String, typeB: String,
      lagHours: Int): DataFrame = {
    def hourly(t: String) = events
      .filter(col("event_type") === lit(t))
      .groupBy(tsUs(date_trunc("hour", col("ts"))).as("bucket_us"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("s"))
    val a = hourly(typeA).select(col("bucket_us"), col("s").as("x"))
    // shift the lagged side onto the probe's bucket so the pairing is an
    // equi-join (no range condition, no skew)
    val b = hourly(typeB).select(
      (col("bucket_us") - lit(lagHours * 3600000000L)).as("bucket_us"),
      col("s").as("y"))
    a.join(b, "bucket_us")
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y") * col("y")).cast("double").as("syy"))
      .select(
        lit(lagHours.toLong).as("lag_hours"), col("n"),
        // a zero-variance side (constant series, or <2 overlapping buckets)
        // zeroes the denominator — NULL, not NaN/Inf (mirrored in the
        // oracle SQL with the same <= 0 predicate)
        when((col("n") * col("sxx") - col("sx") * col("sx")) <= 0d ||
             (col("n") * col("syy") - col("sy") * col("sy")) <= 0d, lit(null))
          .otherwise(
            (col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
          .as("pearson_r"))
  }

  /** Autocorrelation function: lag-k Pearson of the hourly-sum series
    * against itself for every k in 1..`maxLag` — the classic
    * seasonality / persistence diagnostic (a daily-cycled series spikes
    * at k=24). Same pairing rule as [[xcorrLag]]: the lagged copy is
    * SHIFTED onto the probe's bucket so each lag is a plain equi-join
    * (no range predicate, no window sort), and the Pearson moments are
    * exact DECIMAL sums with the identical double tail — engine-exact.
    * Zero-variance overlaps null out rather than NaN.
    *
    * Scale: the hourly aggregation runs ONCE (map-side partials over
    * the raw events) and is checkpointed; each of the `maxLag` lag
    * probes is a self-equi-join of that BUCKET-sized frame — at 100 TB
    * of raw points the hourly frame is ~10⁵ rows/series-decade, so the
    * whole ACF costs one scan of the facts plus `maxLag` joins of
    * node-sized frames. */
  def acf(events: DataFrame, eventType: String, maxLag: Int): DataFrame = {
    val hourly = Materialize(events
      .filter(col("event_type") === lit(eventType))
      .groupBy(tsUs(date_trunc("hour", col("ts"))).as("bucket_us"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)").as("s")))
    val perLag = (1 to maxLag).map { k =>
      val a = hourly.select(col("bucket_us"), col("s").as("x"))
      val b = hourly.select(
        (col("bucket_us") - lit(k * 3600000000L)).as("bucket_us"),
        col("s").as("y"))
      a.join(b, "bucket_us")
        .agg(
          count(lit(1)).as("n"),
          sum(col("x")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x") * col("y")).cast("double").as("sxy"),
          sum(col("x") * col("x")).cast("double").as("sxx"),
          sum(col("y") * col("y")).cast("double").as("syy"))
        .select(
          lit(k.toLong).as("lag_hours"), col("n"),
          when((col("n") * col("sxx") - col("sx") * col("sx")) <= 0d ||
               (col("n") * col("syy") - col("sy") * col("sy")) <= 0d, lit(null))
            .otherwise(
              (col("n") * col("sxy") - col("sx") * col("sy")) /
                (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                  sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
            .as("acf"))
    }
    perLag.reduce(_.unionByName(_))
  }

  /** Trailing time-interval aggregate over IRREGULAR samples: for every
    * event, the sum and count of the SAME series' values inside the
    * half-open window (ts − `windowUs`, ts] — the rolling-1h-spend /
    * rate-limit shape that ROWS frames cannot express when sampling is
    * uneven (k rows back is not k seconds back). A RANGE frame on the
    * microsecond axis: peers (equal ts) enter the frame together in
    * every engine, so ties cannot reorder results — the output is
    * deterministic with no tiebreak column at all. Sums are exact
    * decimal; the one double appears at the output boundary.
    *
    * Scale: one window sort per (event_type, user_id) series — series
    * cardinality IS the parallelism, and a single user-type's traffic
    * is the natural skew bound (a series too hot for one task wants the
    * [[lttb]]-style time-bucket two-pass, documented there). No
    * self-join: the naive range self-join is O(n·window) and skew-prone;
    * the frame is one pass over each sorted run. */
  def trailingWindow(events: DataFrame, windowUs: Long): DataFrame = {
    val w = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("ts_us"))
      .rangeBetween(-(windowUs - 1), Window.currentRow)
    events
      .select(col("event_id"), col("event_type"), col("user_id"),
        tsUs(col("ts")).as("ts_us"),
        col("value").cast("decimal(18,2)").as("v"))
      .select(col("event_id"), col("event_type"), col("user_id"), col("ts_us"),
        sum(col("v")).over(w).cast("double").as("w_sum"),
        count(lit(1)).over(w).as("w_n"))
  }

  /** Inter-arrival burstiness per event type: moments of the successive
    * arrival gaps of each type's event stream — mean/max gap, coefficient
    * of variation, and the Goh–Barabási burstiness index
    * B = (σ−μ)/(σ+μ) ∈ (−1, 1): −1 ⇒ perfectly periodic, 0 ⇒ Poisson,
    * →1 ⇒ heavy-tailed bursts. The sampling-cadence twin of
    * [[availability]] (which reports SLA coverage, not shape).
    *
    * Exactness: gaps are integer µs from one lead() pass; n, Σg, Σg² are
    * exact DECIMAL(38,0) sums (order-free), and σ/μ/B are the one IEEE
    * double tail off those integers — engine-exact like [[xcorrLag]].
    * Σg² bounds the scale: gaps ≤ ~3·10⁵ s keep Σg² under 10³⁸ past
    * 10¹⁵ points/type.
    *
    * Scale: one window sort per event type (type cardinality is the
    * parallelism; a hotter-than-one-task type wants the time-bucket
    * two-pass documented at [[lttb]]), then a map-side-partial hash agg. */
  def interarrivalStats(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    val d38 = "decimal(38,0)"
    val gaps = events
      .select(col("event_type"), col("event_id"), tsUs(col("ts")).as("ts_us"))
      .withColumn("gap_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
      .filter(col("gap_us").isNotNull)
    gaps.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_gaps"),
        max(col("gap_us")).as("max_gap_us"),
        sum(col("gap_us").cast(d38)).cast("double").as("sg"),
        sum((col("gap_us").cast(d38) * col("gap_us").cast(d38))
          .cast(d38)).cast("double").as("sgg"))
      .select(
        col("event_type"), col("n_gaps"), col("max_gap_us"),
        (col("sg") / col("n_gaps")).as("mean_gap_us"),
        // population σ, CV and B share one variance guard: a constant
        // cadence (variance exactly 0) yields CV = 0 and B = -1; fewer
        // than 2 gaps NULLs the shape stats (mirrored in the oracle)
        when(col("n_gaps") < 2, lit(null)).otherwise(
          sqrt(greatest(col("n_gaps") * col("sgg") - col("sg") * col("sg"),
            lit(0d))) / col("sg"))
          .as("cv"),
        // B = (σ−μ)/(σ+μ) with the common /n cancelled: both engines
        // evaluate the identical (√D − Σg)/(√D + Σg) expression
        when(col("n_gaps") < 2, lit(null)).otherwise(
          (sqrt(greatest(col("n_gaps") * col("sgg") - col("sg") * col("sg"),
            lit(0d))) - col("sg")) /
          (sqrt(greatest(col("n_gaps") * col("sgg") - col("sg") * col("sg"),
            lit(0d))) + col("sg")))
          .as("burstiness"))
  }

  /** LEB128 varint byte count of an unsigned 64-bit value carried in a
    * (signed) long: 1 byte per started 7-bit group; top-bit-set values
    * (negative as signed) always need the full 10 bytes. */
  private def varintBytes(x: Column): Column =
    when(x < 0, 10L)
      .otherwise(
        // fold from 8 down to 1 so the SMALLEST threshold is the outermost
        // when; any nonnegative value ≥ 2^56 needs 9 bytes (2^63 is not a
        // representable long threshold — top-bit values took the 10 branch)
        (8 to 1 by -1).foldLeft(lit(9L)) { (acc, bytes) =>
          when(x < lit(1L << (7 * bytes)), bytes.toLong).otherwise(acc)
        })

  /** Exact storage-size oracle for the reference's Gorilla-style codec
    * (shard.cpp:107-126), computed RELATIONALLY: per hour shard and stream
    * position, the encoded size is
    *   first point:  varint(raw ts_ms) + varint(bits(value) XOR 0)
    *   later points: varint(zigzag(delta-of-delta)) + varint(bits XOR prev)
    * with zigzag(n) = (n<<1)^(n>>63) (shard.cpp:115) and value bits from the
    * native [[graft.functions.DoubleBits]] expression (shard.cpp:121-123).
    * Streams are ordered by (ts, event_id) — the sorted-stream footprint.
    * Answers "what would the reference's shard files weigh for this data"
    * as one window pass + one aggregation. */
  def gorillaFootprint(events: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.double_bits
    val w = Window.partitionBy(col("shard_hour")).orderBy(col("ts_ms"), col("event_id"))
    val staged = events
      .select(col("event_id"), col("value"),
        unix_millis(col("ts")).as("ts_ms"))
      .withColumn("shard_hour", shardHourCol(col("ts_ms")))
      .withColumn("delta", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
      .withColumn("dod", col("delta") - coalesce(lag(col("delta"), 1).over(w), lit(0L)))
      .withColumn("vbits", double_bits(col("value")))
      .withColumn("vxor",
        col("vbits").bitwiseXOR(coalesce(lag(col("vbits"), 1).over(w), lit(0L))))
    val zigzag = shiftleft(col("dod"), 1).bitwiseXOR(shiftright(col("dod"), 63))
    val tsBytes = when(col("delta").isNull, varintBytes(col("ts_ms")))
      .otherwise(varintBytes(zigzag))
    staged
      .withColumn("ts_pt_bytes", tsBytes)
      .withColumn("val_pt_bytes", varintBytes(col("vxor")))
      .groupBy(col("shard_hour"))
      .agg(
        count(lit(1)).as("n_points"),
        // the two codec streams separately: the timestamp side is pure
        // integer math any SQL engine can replay (q_gorilla_footprint_ts
        // carries a full oracle on it); the value side needs raw double
        // bit patterns, which stay golden-spec-gated
        sum(col("ts_pt_bytes")).as("ts_bytes"),
        sum(col("val_pt_bytes")).as("value_bytes"),
        sum(col("ts_pt_bytes") + col("val_pt_bytes")).as("gorilla_bytes"))
  }

  /** Exponentially weighted moving average per series — the order-sensitive
    * recursive fold `y_i = α·x_i + decay·y_{i-1}` (seed 0). The series is
    * assembled as a sorted array per group and folded left-to-right, which
    * DuckDB mirrors with `list_reduce` over `list(... ORDER BY ...)` →
    * bit-exact. Pass α and decay as source literals (`0.1`, `0.9`), not
    * computed values: `1.0 - 0.1` rounds differently than parsing `0.9`.
    * Per-group memory is O(group size) — for unbounded series use the
    * streaming sessionizer pattern instead. */
  def ewma(events: DataFrame, alpha: Double, decay: Double): DataFrame = {
    val sorted = sort_array(collect_list(struct(
      tsUs(col("ts")).as("ts_us"), col("event_id"), col("value"))))
    events
      .groupBy(col("event_type"))
      .agg(sorted.as("pts"))
      .select(
        col("event_type"),
        size(col("pts")).cast("long").as("n"),
        aggregate(
          transform(col("pts"), p => p.getField("value")),
          lit(0.0),
          (acc, x) => lit(alpha) * x + lit(decay) * acc).as("ewma"))
  }

  /** Sliding-window aggregate via the built-in `window()` generator: each
    * event lands in size/slide overlapping windows (Spark explodes them);
    * partial aggregation then collapses per (window, …) before the shuffle.
    * Output keyed by the window start in epoch micros. */
  def slidingWindowAgg(events: DataFrame, size: String, slide: String): DataFrame =
    events
      .groupBy(window(col("ts"), size, slide))
      .agg(
        count(lit(1)).as("n_points"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("n_points"), col("sum_value"))

  /** Gap-based sessionization (the batch twin of the streaming
    * `flatMapGroupsWithState` sessionizer): a session breaks when the gap to
    * the previous event of the same user exceeds `gapUs`. Two window passes
    * over ONE partitioning (user_id) — a single shuffle; session ids are a
    * running sum of break markers, so the whole thing is integer math. */
  /** Hourly resample with GAP FILLING — the classic TSDB operation the
    * reference leaves to clients: per event_type, an hourly spine from its
    * first to its last populated hour; empty hours appear with n_points=0
    * and a FORWARD-FILLED running value (last observed hourly sum at or
    * before the hour). The spine is `sequence`+`explode` per group (no
    * driver loop, no cross join against a global calendar) and the fill is
    * one partitioned window — both scale on the number of series, and the
    * spine's row count is bounded by time span, not data volume. */
  def gapFill(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"),
        tsUs(date_trunc("hour", col("ts"))).as("bucket_us"))
      .agg(count(lit(1)).as("n_points"), exactSum(col("value")).as("sum_value"))
    val spine = hourly
      .groupBy(col("event_type"))
      .agg(min(col("bucket_us")).as("lo"), max(col("bucket_us")).as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(3600000000L))).as("bucket_us"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("bucket_us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(hourly, Seq("event_type", "bucket_us"), "left")
      .select(col("event_type"), col("bucket_us"),
        coalesce(col("n_points"), lit(0L)).as("n_points"),
        last(col("sum_value"), ignoreNulls = true).over(w).as("filled_sum"))
  }

  /** Gap fill by LINEAR INTERPOLATION: like [[gapFill]] but empty hours get
    * the straight-line value between the surrounding observed hours
    * (`prev + (next−prev) · Δt/span`); hours before the first or after the
    * last observation stay null. Two symmetric windows (carry-forward +
    * carry-backward) — still one shuffle on the series key. The arithmetic
    * is a fixed-order chain of double ops, mirrored verbatim in the oracle. */
  def gapFillInterp(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"),
        tsUs(date_trunc("hour", col("ts"))).as("bucket_us"))
      .agg(count(lit(1)).as("n_points"), exactSum(col("value")).as("sum_value"))
    val spine = hourly
      .groupBy(col("event_type"))
      .agg(min(col("bucket_us")).as("lo"), max(col("bucket_us")).as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(3600000000L))).as("bucket_us"))
    val wBack = Window.partitionBy(col("event_type")).orderBy(col("bucket_us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.partitionBy(col("event_type")).orderBy(col("bucket_us"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsTs = when(col("n_points") > 0, col("bucket_us"))
    spine
      .join(hourly, Seq("event_type", "bucket_us"), "left")
      .withColumn("pv", last(col("sum_value"), ignoreNulls = true).over(wBack))
      .withColumn("pt", last(obsTs, ignoreNulls = true).over(wBack))
      .withColumn("nv", first(col("sum_value"), ignoreNulls = true).over(wFwd))
      .withColumn("nt", first(obsTs, ignoreNulls = true).over(wFwd))
      .select(col("event_type"), col("bucket_us"),
        coalesce(col("n_points"), lit(0L)).as("n_points"),
        when(col("n_points") > 0, col("sum_value"))
          .when(col("pt").isNotNull && col("nt").isNotNull,
            col("pv") + (col("nv") - col("pv")) *
              ((col("bucket_us") - col("pt")).cast("double") /
                (col("nt") - col("pt")).cast("double")))
          .otherwise(lit(null).cast("double")).as("interp_sum"))
  }

  def sessionize(events: DataFrame, gapUs: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val marked = events
      .select(col("user_id"), col("event_id"), tsUs(col("ts")).as("ts_us"))
      .withColumn("new_s",
        when(lag(col("ts_us"), 1).over(w).isNull ||
          col("ts_us") - lag(col("ts_us"), 1).over(w) > gapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked.groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"))
  }

  /** Skew-proof [[sessionize]]: identical output, bounded partition size.
    *
    * The window partitions by `(user_id, blk)` on the [[Blocks]] cut —
    * hot-user parallelism = number of blocks — then local sessions are
    * STITCHED: two adjacent local sessions merge iff the gap between them
    * is ≤ `gapUs`, decided by the same lag/cumsum island pass running per
    * user over SESSION-level rows (≤ one row per block per user in the
    * worst continuous-activity case — thousands of rows where the event
    * pass had millions, so the second window is never the bottleneck).
    * Session ids are re-derived as the per-user rank of merged sessions
    * by start time, which equals the running-break-sum numbering of
    * [[sessionize]] — bit-identical output (spec-pinned on real and
    * adversarial data, and probed at 10 M events / 99 % one user).
    *
    * The stitch is cut-agnostic, so a count cut ([[Blocks.rows]]) gives
    * the density-proof form: a burst that lands a hot user's whole
    * timeline inside one time block still parallelizes as
    * ceil(rows/blockRows). A time cut trades hot-user parallelism
    * (span/blockUs tasks) against stitch volume and must exceed `gapUs`
    * ([[Blocks.session]] is 64× gap). */
  def sessionizeBlocked(events: DataFrame, gapUs: Long,
      blocks: Blocks): DataFrame = {
    require(blocks.exceeds(gapUs), s"$blocks must exceed gapUs=$gapUs")
    sessionizeOnBlocks(blocks.cut(events
      .select(col("user_id"), col("event_id"), tsUs(col("ts")).as("ts_us")),
      "user_id"), gapUs)
  }

  /** Shared tail of the blocked sessionizers: local sessions inside
    * `(user, blk)` then the session-level stitch. Requires `blk`
    * contiguous and ascending in the per-user (ts_us, event_id) order —
    * true for time cuts and count cuts alike. */
  private def sessionizeOnBlocks(e: DataFrame, gapUs: Long): DataFrame = {
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
      .groupBy(col("user_id"), col("blk"), col("ls"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("s_start"), max(col("ts_us")).as("s_end"))
    // session-level stitch: same island pass, one row per local session
    val wUser = Window.partitionBy(col("user_id"))
      .orderBy(col("s_start"), col("s_end"))
    local
      .withColumn("new_m",
        when(lag(col("s_end"), 1).over(wUser).isNull ||
          col("s_start") - lag(col("s_end"), 1).over(wUser) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_m")).over(
          wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(sum(col("n_events")).as("n_events"),
        min(col("s_start")).as("session_start_us"),
        max(col("s_end")).as("session_end_us"))
  }

  /** Adaptive [[sessionize]] on the `user_id` key ([[Blocks.adaptive]]):
    * plain on balanced or small-hot-user input, the 64×gap time cut when
    * the hot user's densest block stays bounded, the count cut when the
    * timeline bursts — or when a gap ≤ 0 admits no time cut. */
  def sessionizeAdaptive(events: DataFrame, gapUs: Long,
      blockRows: Long = Blocks.DefaultRows, sampleFraction: Double = 0.01,
      skewThreshold: Double = 0.2): DataFrame =
    Blocks.adaptive(events, "user_id", blockRows, sampleFraction, skewThreshold,
      Option.when(gapUs > 0L)(Blocks.session(gapUs)))(sessionize(events, gapUs))(
      sessionizeBlocked(events, gapUs, _))

  // ---------------------------------------------------------------------
  // Blocked per-series window family: the [[Blocks]] treatment applied to
  // every raw-event series window, keyed on `event_type`. Each blocked
  // form takes one cut and repairs the block boundary by it, so outputs
  // stay bit-identical to the plain forms (spec-pinned per op, corpus +
  // adversarial fixtures).
  // ---------------------------------------------------------------------

  /** Adds `prev_<c>` (or `next_<c>`) = lag/lead(c, 1) over the per-series
    * (ts_us, event_id) total order, computed with BOUNDED partitions:
    * lag/lead within `(event_type, blk)` plus each block's edge row
    * carried from the neighboring block by the repair of `blocks`' cut.
    * Input must have `event_type`, `ts_us`, `event_id` and the `carry`
    * columns. */
  private def blockedNeighbor(e: DataFrame, carry: Seq[String], blocks: Blocks,
      useLead: Boolean): DataFrame = {
    val b = blocks.cut(e, "event_type")
    blocks match {
      case _: Blocks.Time => neighborBySummary(b, carry, useLead)
      case Blocks.Rows(n) => neighborByGhosts(b, carry, n, useLead)
    }
  }

  /** Time-cut repair: one summary row per (series, block) — the struct
    * min/max carries the (ts_us, event_id) order, the block-level
    * lag/lead window is over summary rows only, and the fix-up join is
    * summary-sized (AQE broadcasts it). The edge row is identified by
    * rank, not null-ness, so NULL data values carry correctly. */
  private def neighborBySummary(b: DataFrame, carry: Seq[String],
      useLead: Boolean): DataFrame = {
    val pre = if (useLead) "next_" else "prev_"
    val wLocal = Window.partitionBy(col("event_type"), col("blk"))
      .orderBy(col("ts_us"), col("event_id"))
    val wBlk = Window.partitionBy(col("event_type")).orderBy(col("blk"))
    val withLocal = carry.foldLeft(b)((df, c) => df.withColumn(pre + c,
      (if (useLead) lead(col(c), 1) else lag(col(c), 1)).over(wLocal)))
      // the row whose neighbor lives in the adjacent block: the block's
      // LAST row for lag (its prev is local), FIRST for lead — mark the
      // opposite edge, the one with a missing local neighbor
      .withColumn("_edge",
        row_number().over(if (useLead) Window.partitionBy(col("event_type"),
          col("blk")).orderBy(col("ts_us").desc, col("event_id").desc)
        else wLocal) === 1)
    val payload = (Seq("ts_us", "event_id") ++ carry).distinct
    val summary = b.groupBy(col("event_type"), col("blk"))
      .agg((if (useLead) min(struct(payload.map(col): _*))
            else max(struct(payload.map(col): _*))).as("edge"))
    val neighbor = summary
      .withColumn("nedge",
        (if (useLead) lead(col("edge"), 1) else lag(col("edge"), 1)).over(wBlk))
      .filter(col("nedge").isNotNull)
      .select(col("event_type") +: col("blk") +:
        carry.map(c => col(s"nedge.$c").as(s"_carry_$c")): _*)
    val joined = withLocal.join(neighbor, Seq("event_type", "blk"), "left")
    carry.foldLeft(joined)((df, c) => df.withColumn(pre + c,
      when(col("_edge"), col(s"_carry_$c")).otherwise(col(pre + c))))
      .drop("_edge" +: carry.map(c => s"_carry_$c"): _*)
  }

  /** Count-cut repair: block edges are identified by INDEX ARITHMETIC (a
    * block's first row has rn ≡ 1, its last rn ≡ 0 mod bRows), so the
    * carried neighbor is one filtered ghost row per block joined
    * summary-sized (AQE broadcasts it) — no struct min/max, no window
    * over summary rows. NULL data values carry correctly for the same
    * reason as the time repair: the edge test never inspects the carried
    * value. A series' final partial block needs no lead ghost (its last
    * row's neighbor does not exist) and block 0 no lag ghost — both fall
    * out of the arithmetic, spec-pinned on boundary fixtures. */
  private def neighborByGhosts(ranked: DataFrame, carry: Seq[String],
      bRows: Long, useLead: Boolean): DataFrame = {
    val pre = if (useLead) "next_" else "prev_"
    val wLocal = Window.partitionBy(col("event_type"), col("blk"))
      .orderBy(col("rn"))
    val withLocal = carry.foldLeft(ranked)((df, c) => df.withColumn(pre + c,
      (if (useLead) lead(col(c), 1) else lag(col(c), 1)).over(wLocal)))
    val ghosts = (if (useLead)
        ranked.filter(expr(s"(rn - 1) % ${bRows}L = 0") && col("blk") > 0)
          .withColumn("blk", col("blk") - 1L)
      else
        ranked.filter(expr(s"rn % ${bRows}L = 0"))
          .withColumn("blk", col("blk") + 1L))
      .select(col("event_type") +: col("blk") +:
        carry.map(c => col(c).as(s"_carry_$c")): _*)
    val edge = if (useLead) expr(s"rn % ${bRows}L = 0")
               else expr(s"(rn - 1) % ${bRows}L = 0")
    val joined = withLocal.join(ghosts, Seq("event_type", "blk"), "left")
    carry.foldLeft(joined)((df, c) => df.withColumn(pre + c,
      when(edge, col(s"_carry_$c")).otherwise(col(pre + c))))
      .drop("blk" +: "rn" +: carry.map(c => s"_carry_$c"): _*)
  }

  // shared finishers: the post-neighbor math is IDENTICAL for the time-
  // and count-block forms (and is exactly the plain forms' math), so
  // bit-equality across all three is by construction, not by parallel
  // maintenance of three copies.
  private def finishDelta(nb: DataFrame): DataFrame =
    nb.select(col("event_id"), col("event_type"), col("ts_us"), col("value"),
      (col("value") - col("prev_value")).as("delta"),
      (col("ts_us") - col("prev_ts_us")).as("ts_delta_us"))

  private def finishCounterRate(nb: DataFrame): DataFrame =
    nb.withColumn("inc",
        when(col("prev_value").isNull, lit(null).cast("double"))
          .when(col("value") >= col("prev_value"),
            col("value") - col("prev_value"))
          .otherwise(col("value")))
      .groupBy(col("event_type"),
        tsUs(date_trunc("hour", col("ts"))).as("bucket_us"))
      .agg(
        sum(col("inc").cast("decimal(18,2)")).cast("double").as("increase_sum"),
        count(col("inc")).as("n_increases"))

  private def finishTwa(nb: DataFrame): DataFrame =
    nb.withColumn("dur_us", col("next_ts_us") - col("ts_us"))
      .filter(col("dur_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        (sum((col("cents") * col("dur_us")).cast("decimal(38,0)")).cast("double") /
          sum(col("dur_us")).cast("double") / lit(100.0)).as("twa"),
        count(lit(1)).as("n_intervals"))

  private def finishAvailability(nb: DataFrame, sloUs: Long): DataFrame =
    nb.withColumn("gap_us", col("next_ts_us") - col("ts_us"))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        max(col("gap_us")).as("max_gap_us"),
        sum(when(col("gap_us") > sloUs, 1L).otherwise(0L)).as("n_breaches"),
        (sum(least(col("gap_us"), lit(sloUs))).cast("double") /
          sum(col("gap_us")).cast("double")).as("uptime"))

  private def deltaInput(events: DataFrame): DataFrame =
    events.select(col("event_id"), col("event_type"),
      tsUs(col("ts")).as("ts_us"), col("value"))
  private def counterInput(events: DataFrame): DataFrame =
    events.select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .withColumn("ts_us", tsUs(col("ts")))
  private def twaInput(events: DataFrame): DataFrame =
    events.select(col("event_type"), col("event_id"),
      (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"),
      tsUs(col("ts")).as("ts_us"))
  private def availInput(events: DataFrame): DataFrame =
    events.select(col("event_type"), col("event_id"),
      tsUs(col("ts")).as("ts_us"))

  /** Skew-proof [[windowDelta]] on `blocks` (default: the hourly time
    * cut); bit-identical (see the family note above). */
  def windowDeltaBlocked(events: DataFrame,
      blocks: Blocks = Blocks.hourly): DataFrame =
    finishDelta(blockedNeighbor(deltaInput(events),
      Seq("ts_us", "value"), blocks, useLead = false))

  /** Skew-proof [[counterRate]]: bit-identical (same reset rule, same
    * exact-decimal accumulation — the carry only changes WHERE the lag
    * is computed, never its value). */
  def counterRateBlocked(events: DataFrame,
      blocks: Blocks = Blocks.hourly): DataFrame =
    finishCounterRate(blockedNeighbor(counterInput(events),
      Seq("value"), blocks, useLead = false))

  /** Skew-proof [[timeWeightedAvg]]: the lead-shaped carry — each block's
    * last row takes its holding interval from the NEXT block's first
    * sample. Integer numerator unchanged, so bit-identical. */
  def timeWeightedAvgBlocked(events: DataFrame,
      blocks: Blocks = Blocks.hourly): DataFrame =
    finishTwa(blockedNeighbor(twaInput(events),
      Seq("ts_us"), blocks, useLead = true))

  /** Skew-proof [[availability]]: same lead-shaped carry as
    * [[timeWeightedAvgBlocked]]; all-integer sums, bit-identical. */
  def availabilityBlocked(events: DataFrame, sloUs: Long,
      blocks: Blocks = Blocks.hourly): DataFrame =
    finishAvailability(blockedNeighbor(availInput(events),
      Seq("ts_us"), blocks, useLead = true), sloUs)

  /** Skew-proof [[cumSum]]: per-(series, block) local running DECIMAL
    * sums plus an exclusive per-series prefix of block totals (a window
    * over one summary row per block, joined back summary-sized). Decimal
    * addition is exact and associative, so the regrouping is
    * bit-identical after the single double cast — on a count cut too, so
    * a one-hour burst parallelizes exactly like a 30-day spread. */
  def cumSumBlocked(events: DataFrame, blocks: Blocks = Blocks.hourly): DataFrame = {
    val e = blocks.cut(deltaInput(events), "event_type")
    val wLocal = Window.partitionBy(col("event_type"), col("blk"))
      .orderBy(blocks.order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.partitionBy(col("event_type")).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = e.groupBy(col("event_type"), col("blk"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("blk_sum"))
      .withColumn("carry", sum(col("blk_sum")).over(wPrev))
      .select(col("event_type"), col("blk"), col("carry"))
    e.withColumn("local_sum",
        sum(col("value").cast("decimal(18,2)")).over(wLocal))
      .join(carry, Seq("event_type", "blk"), "left")
      .select(col("event_id"), col("event_type"), col("ts_us"),
        (col("local_sum") + coalesce(col("carry"),
          lit(0).cast("decimal(18,2)"))).cast("double").as("running_sum"))
  }

  /** Skew-proof [[movingAvg]]: a ROWS frame needs the previous `trailing`
    * rows wherever they fall in time, so it takes a count cut only, and
    * each block's last `trailing` rows are GHOSTED into the next block:
    * every real row's frame then sees exactly its true trailing
    * predecessors (ghost duplication is `trailing` rows per block —
    * bounded). Ghost rows feed frames but are never emitted.
    * Bit-identical: same frame contents, same exact-decimal sum, same
    * count. */
  def movingAvgBlocked(events: DataFrame, trailing: Int = 59,
      blocks: Blocks.Rows = Blocks.rows(Blocks.DefaultRows)): DataFrame = {
    val bRows = blocks.n
    require(bRows > trailing, s"blockRows=$bRows must exceed trailing=$trailing")
    val ranked = blocks.cut(deltaInput(events), "event_type")
    val ghosts = ranked.filter(expr(s"(rn - 1) % ${bRows}L >= ${bRows - trailing}L"))
      .withColumn("blk", col("blk") + 1L).withColumn("_ghost", lit(1))
    val w = Window.partitionBy(col("event_type"), col("blk"))
      .orderBy(col("rn")).rowsBetween(-trailing, Window.currentRow)
    ranked.withColumn("_ghost", lit(0)).unionByName(ghosts)
      .withColumn("moving_avg",
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double") /
          count(lit(1)).over(w))
      .filter(col("_ghost") === 0)
      .select(col("event_id"), col("event_type"), col("ts_us"),
        col("moving_avg"))
  }

  /** The series family's adaptive entry points: [[Blocks.adaptive]] on
    * the `event_type` key — plain on balanced or small-hot-series input,
    * the hourly time cut when the hot series spreads over time, the
    * count cut when it bursts. Bit-identical on every branch. */
  def windowDeltaAdaptive(events: DataFrame, blockRows: Long = Blocks.DefaultRows,
      sampleFraction: Double = 0.01, skewThreshold: Double = 0.2): DataFrame =
    Blocks.adaptive(events, "event_type", blockRows, sampleFraction,
      skewThreshold)(windowDelta(events))(windowDeltaBlocked(events, _))

  def counterRateAdaptive(events: DataFrame, blockRows: Long = Blocks.DefaultRows,
      sampleFraction: Double = 0.01, skewThreshold: Double = 0.2): DataFrame =
    Blocks.adaptive(events, "event_type", blockRows, sampleFraction,
      skewThreshold)(counterRate(events))(counterRateBlocked(events, _))

  def timeWeightedAvgAdaptive(events: DataFrame, blockRows: Long = Blocks.DefaultRows,
      sampleFraction: Double = 0.01, skewThreshold: Double = 0.2): DataFrame =
    Blocks.adaptive(events, "event_type", blockRows, sampleFraction,
      skewThreshold)(timeWeightedAvg(events))(timeWeightedAvgBlocked(events, _))

  def availabilityAdaptive(events: DataFrame, sloUs: Long,
      blockRows: Long = Blocks.DefaultRows, sampleFraction: Double = 0.01,
      skewThreshold: Double = 0.2): DataFrame =
    Blocks.adaptive(events, "event_type", blockRows, sampleFraction,
      skewThreshold)(availability(events, sloUs))(availabilityBlocked(events, sloUs, _))

  def cumSumAdaptive(events: DataFrame, blockRows: Long = Blocks.DefaultRows,
      sampleFraction: Double = 0.01, skewThreshold: Double = 0.2): DataFrame =
    Blocks.adaptive(events, "event_type", blockRows, sampleFraction,
      skewThreshold)(cumSum(events))(cumSumBlocked(events, _))

  /** [[movingAvg]] has no time cut, so a skewed input always takes the
    * count cut; and a count cut no wider than the frame cannot carry it,
    * so `blockRows <= trailing` stays plain (with no probe job). */
  def movingAvgAdaptive(events: DataFrame, trailing: Int = 59,
      blockRows: Long = Blocks.DefaultRows, sampleFraction: Double = 0.01,
      skewThreshold: Double = 0.2): DataFrame = {
    val blocks = Blocks.rows(blockRows)
    if (blocks.n <= trailing) movingAvg(events, trailing)
    else Blocks.adaptive(events, "event_type", blockRows, sampleFraction,
      skewThreshold, time = None)(movingAvg(events, trailing))(
      _ => movingAvgBlocked(events, trailing, blocks))
  }

  /** [[sessionize]] via Spark's NATIVE `session_window` operator — the
    * built-in (codegen'd `SessionWindowing` + merging state in streaming)
    * rather than the lag/cumsum island method. Merge semantics are
    * spec-pinned: a gap of EXACTLY `gapUs` still MERGES (split is
    * strictly `>`, same as [[sessionize]] — the windows touch and Spark
    * coalesces touching sessions); the reported end is last_ts + gap,
    * not last_ts. */
  def sessionizeNative(events: DataFrame, gapUs: Long): DataFrame =
    events
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapUs microseconds").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), tsUs(col("sw.start")).as("session_start_us"),
        tsUs(col("sw.end")).as("session_end_us"), col("n_events"))

  /** Top-k hour buckets by average value (TakeOrderedAndProject; deterministic
    * tiebreak on the bucket itself). */
  def topkHours(events: DataFrame, k: Int): DataFrame =
    events
      .groupBy(tsUs(date_trunc("hour", col("ts"))).as("bucket_us"))
      .agg(
        (exactSum(col("value")) / count(lit(1))).as("avg_value"),
        count(lit(1)).as("n_points"))
      .orderBy(col("avg_value").desc, col("bucket_us"))
      .limit(k)

  /** LTTB (largest-triangle-three-buckets, Steinarsson 2013) downsampling —
    * THE visualization-grade TSDB downsampler: keep the first and last
    * point of each series, split the middle into `nOut − 2` buckets, and
    * from each bucket keep the point forming the largest triangle with the
    * previously KEPT point and the NEXT bucket's centroid.
    *
    * Distribution strategy: the heavy lifting — bucket assignment (pure
    * integer arithmetic over the per-series rank) and per-bucket point
    * collection/centroids — is ordinary partitioned window + hash-agg work
    * that scales with the fact table. Only the inherently SEQUENTIAL
    * selection walk folds per series, over an already-reduced array of
    * `nOut − 2` bucket structs (one row per series, ~nOut·avg-bucket
    * points), via `aggregate` — never the raw series on the driver.
    *
    * Oracle determinism: the bucket argmax compares EXACT INTEGER scores,
    * not floating-point areas. The candidate's triangle area against the
    * next bucket's centroid (Sx/c, Sy/c) is scaled by the positive
    * constants c (the next bucket's count) and 100 (the data's 2-decimal
    * value quantum) — a monotone transform per bucket, so the argmax is
    * unchanged — which clears both denominators: every term is integer
    * arithmetic over µs offsets from the series start and 100× values,
    * carried in decimal(38,0)/HUGEINT, then cast to double ONCE (correctly
    * rounded, bit-identical in both engines) for the homogeneous fold
    * list. No engine-internal reordering or near-tie FP rounding can flip
    * a selection; ties take the earliest point (strict `>` on the running
    * max). DuckDB mirrors the walk with a recursive CTE + list-fold argmax
    * (list accumulator, not struct — DuckDB 1.x list_reduce mis-evaluates
    * struct accumulators).
    *
    * Series whose length is ≤ `nOut` pass through unchanged (standard LTTB
    * contract).
    *
    * Scale: the rank window sorts each SERIES in one task (the normal
    * TSDB shape — many series, each task-sized). Series longer than
    * `timeBucketMinRows` skip the rank sort entirely: their bucket key is
    * the TIME fraction `((ts − fts) · (nOut−2)) div (lts − fts)` — pure
    * arithmetic from two window aggregates, so a billion-point series
    * never funnels through one sort task (only its per-bucket slices do).
    * Time buckets are LTTB-equal-count buckets only for evenly spaced
    * data; present buckets are renumbered densely and walked identically,
    * so a bursty series yields ≤ nOut points with the same semantics. */
  def lttb(events: DataFrame, nOut: Int,
      timeBucketMinRows: Long = Long.MaxValue): DataFrame = {
    require(nOut >= 3, s"LTTB needs nOut >= 3, got $nOut")
    val wSer = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    val pts0 = events
      .select(col("event_type"), tsUs(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
    // per-series metadata via hash aggregation (map-side partials — a
    // huge series never funnels through one task here, unlike a
    // partition-wide window) broadcast back onto the facts; endpoints as
    // order-insensitive struct min/max ((ts_us, event_id) is a strict
    // total order). `fts` is the series origin: x offsets from it keep
    // the exact-score integers small (µs of series DURATION, not epoch —
    // the area determinant is translation-invariant, so the shift is
    // exact)
    val stats = pts0.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        min(struct(col("ts_us"), col("event_id"), col("value"))).as("f"),
        max(struct(col("ts_us"), col("event_id"), col("value"))).as("l"))
    val base = pts0.join(broadcast(stats.select(col("event_type"), col("n"),
      col("f.ts_us").as("fts"), col("f.event_id").as("feid"),
      col("l.ts_us").as("lts"), col("l.event_id").as("leid"))), "event_type")
    val small = base.filter(col("n") <= nOut)
      .select(col("event_type"), col("ts_us"), col("value"))
    val big = base.filter(col("n") > nOut)

    // rank path: middle points -> buckets 0 .. nOut-3 (floor arithmetic,
    // never empty because n-2 > nOut-2); first/last kept outside the walk
    val rankMid = big.filter(col("n") <= timeBucketMinRows)
      .withColumn("rk", row_number().over(wSer).cast("long"))
      .filter(col("rk") > 1 && col("rk") < col("n"))
      .withColumn("bucket",
        expr(s"((rk - 2) * ${nOut - 2}) div (n - 2)"))
    // time path (huge series): bucket by time fraction — no per-series
    // sort; the first/last POINT (not rank) is excluded, and a straggler
    // at ts == lts clamps into the final bucket
    val timeMid = big.filter(col("n") > timeBucketMinRows)
      .filter(!(col("ts_us") === col("fts") && col("event_id") === col("feid")) &&
        !(col("ts_us") === col("lts") && col("event_id") === col("leid")))
      .withColumn("bucket",
        least(expr(s"((ts_us - fts) * ${nOut - 2}) div (lts - fts)"),
          lit((nOut - 3).toLong)))
    val mid = rankMid.select(col("event_type"), col("ts_us"), col("event_id"),
        col("value"), col("fts"), col("bucket"))
      .unionByName(timeMid.select(col("event_type"), col("ts_us"),
        col("event_id"), col("value"), col("fts"), col("bucket")))
    // per-bucket EXACT sums: x offsets from the series origin and 100×
    // values (the data's decimal quantum), plus the sorted point list.
    // Each point's decimal coordinates (xd, yd) are precomputed HERE, in
    // the codegen'd aggregation projection — the interpreted walk lambda
    // then only reads struct fields instead of re-casting per candidate
    // (measured ~2× on the whole query at sf0.1)
    val bucketed = mid
      .groupBy(col("event_type"), col("bucket"))
      .agg(
        sort_array(collect_list(struct(
          col("ts_us"), col("event_id"), col("value"),
          (col("ts_us") - col("fts")).cast("decimal(38,0)").as("xd"),
          round(col("value") * 100).cast("decimal(38,0)").as("yd")))).as("pts"),
        sum((col("ts_us") - col("fts")).cast("decimal(38,0)")).as("sx"),
        sum(round(col("value") * 100).cast("decimal(38,0)")).as("sy"),
        count(lit(1)).as("cnt"),
        first(col("fts")).as("fts"))
      // dense-renumber present buckets so the walk and lead() stay
      // contiguous on the time path (gappy series leave empty time
      // buckets); identity on the rank path. A window over ≤ nOut
      // already-aggregated rows per series — trivial
      .withColumn("bucket",
        (row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("bucket"))) - 1).cast("long"))
      // convex-hull prefilter: provably argmax-preserving under the
      // exact-decimal score (see LttbHullFilter), it bounds the walk's
      // per-bucket candidate list by the hull size instead of the bucket
      // population — the difference between a 50-point downsample of a
      // 2 M-point series walking 2 M candidates in one interpreted fold
      // (the measured 100× wall) and walking a few hundred
      .withColumn("pts", org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.LttbHullFilter(
          org.apache.spark.sql.GraftColumnBridge.expression(col("pts")))))
    // endpoints come straight from the per-series stats (big series only)
    val bigStats = stats.filter(col("n") > nOut)
    val firstPt = bigStats.select(col("event_type"),
      col("f.ts_us").as("fx"), col("f.value").as("fy"))
    val lastPt = bigStats.select(col("event_type"),
      col("l.ts_us").as("lx"), col("l.value").as("ly"))

    // next-bucket centroid as exact (Σx, Σy·100, count) triple; the LAST
    // bucket aims at the series' last point (a 1-point "centroid")
    val d38 = "decimal(38,0)"
    val wBuck = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
    val withNext = bucketed
      .join(lastPt, "event_type")
      .withColumn("nsx", coalesce(lead(col("sx"), 1).over(wBuck),
        (col("lx") - col("fts")).cast(d38)))
      .withColumn("nsy", coalesce(lead(col("sy"), 1).over(wBuck),
        round(col("ly") * 100).cast(d38)))
      .withColumn("nc", coalesce(lead(col("cnt"), 1).over(wBuck), lit(1L)))

    // one row per series: ordered bucket structs + endpoints, then the walk
    val perSeries = withNext
      .groupBy(col("event_type"))
      .agg(
        sort_array(collect_list(struct(
          col("bucket"), col("pts"), col("nsx"), col("nsy"), col("nc")))).as("bs"),
        first(col("lx")).as("lx"), first(col("ly")).as("ly"),
        first(col("fts")).as("fts"))
      .join(firstPt, "event_type")
    // walk points carry their precomputed decimal coords; the first
    // point's x offset is 0 by construction (it IS the series origin)
    val point = (x: Column, y: Column, xd: Column, yd: Column) =>
      struct(x.as("x"), y.as("y"), xd.as("xd"), yd.as("yd"))
    val walked = perSeries.select(
      col("event_type"),
      concat(
        aggregate(
          col("bs"),
          array(point(col("fx"), col("fy"), lit(0L).cast(d38),
            round(col("fy") * 100).cast(d38))),
          (acc, b) => {
            val prev = element_at(acc, -1)
            // exact score = 2·c·100·area: xd offsets are µs from the
            // series origin, yd are 100× values, all decimal(38,0),
            // compared exactly (the oracle compares the same HUGEINTs)
            val dPx = prev.getField("xd")
            val dPy = prev.getField("yd")
            val dnc = b.getField("nc").cast(d38)
            val best = aggregate(
              b.getField("pts"),
              struct(lit(0L).as("x"), lit(0.0).as("y"),
                lit(0L).cast(d38).as("xd"), lit(0L).cast(d38).as("yd"),
                lit(-1L).cast(d38).as("a")),
              (bst, p) => {
                // EXACT decimal comparison — no double cast: above ~2⁵³
                // (sf1+ µs-offset × value products) double rounding made
                // distinct exact scores tie and the tie rule pick
                // rounding-dependent winners; exact compare is also what
                // makes the hull prefilter provably selection-preserving
                val score = abs(
                  (dPx * dnc - b.getField("nsx")) *
                    (p.getField("yd") - dPy) -
                    (dPx - p.getField("xd")) *
                      (b.getField("nsy") - dnc * dPy))
                when(score > bst.getField("a"),
                  struct(p.getField("ts_us").as("x"), p.getField("value").as("y"),
                    p.getField("xd").as("xd"), p.getField("yd").as("yd"),
                    score.as("a"))).otherwise(bst)
              })
            concat(acc, array(point(best.getField("x"), best.getField("y"),
              best.getField("xd"), best.getField("yd"))))
          }),
        array(point(col("lx"), col("ly"), lit(0L).cast(d38),
          lit(0L).cast(d38)))).as("sel"))
    val bigOut = walked
      .select(col("event_type"), explode(col("sel")).as("p"))
      .select(col("event_type"), col("p.x").as("ts_us"), col("p.y").as("value"))
    small.unionByName(bigOut)
  }
}
