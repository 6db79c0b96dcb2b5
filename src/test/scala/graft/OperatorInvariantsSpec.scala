package graft

import org.apache.spark.sql.functions._
import graft.operators.Blocks
import org.scalatest.funsuite.AnyFunSuite

/** Invariant checks for every declared query at sf0.001 (fast), plus
  * semantic assertions the DuckDB oracle can't express (ANN vs brute force,
  * as-of ordering, LSH recall).
  */
class OperatorInvariantsSpec extends AnyFunSuite with SparkSpec {

  test("every declared query runs at sf0.001 and returns a readable schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf0001)
      assert(df.schema.nonEmpty, s"$name has empty schema")
      assert(df.count() >= 0, s"$name failed to execute")
    }
  }

  test("oracleSql keys are a subset of queries keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("registerViews makes every declared query SQL-callable") {
    SparkEntry.registerViews(spark, sf0001)
    SparkEntry.queries.keys.foreach { name =>
      assert(spark.catalog.tableExists(name), s"view $name missing")
    }
    // views compose with ordinary SQL — filter, join, aggregate over them
    assert(spark.sql("SELECT count(*) FROM q_range_scan").head().getLong(0) > 0)
    val sql = spark.sql(
      "SELECT r.l_returnflag, sum_qty FROM q_tpch_pricing r WHERE sum_qty > 0")
    assert(sql.count() > 0)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("as-of join: every matched err_ts is <= the probe ts, per user") {
    val df = SparkEntry.queries("q_asof_join")(spark, sf0001)
    assert(df.filter(col("err_ts_us") > col("ts_us")).count() == 0)
    assert(df.count() > 0)
  }

  test("dedup keep-first over doubled docs returns exactly the original ids") {
    val kept = SparkEntry.queries("q_dedup_keep_first")(spark, sf0001)
    val orig = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(kept.count() == orig)
    assert(kept.filter(col("doc_id") >= 1000000L).count() == 0)
  }

  test("jaccard values are in (0, 1] and pairs are ordered doc_id_1 < doc_id_2") {
    val df = SparkEntry.queries("q_ngram_jaccard")(spark, sf0001)
    assert(df.filter(col("jaccard") <= 0 || col("jaccard") > 1).count() == 0)
    assert(df.filter(col("doc_id_1") >= col("doc_id_2")).count() == 0)
  }

  test("minhash-LSH candidates recover every exact near-dup pair (recall=1 here)") {
    val exact = SparkEntry.queries("q_ngram_jaccard")(spark, sf0001)
      .select("doc_id_1", "doc_id_2")
    val lsh = SparkEntry.queries("q_minhash_lsh")(spark, sf0001)
      .select("doc_id_1", "doc_id_2")
    assert(exact.exceptAll(lsh).count() == 0)
  }

  test("similarity top-k: query vector itself ranks first with sim ≈ 1") {
    val top = SparkEntry.queries("q_similarity_topk")(spark, sf0001).collect()
    assert(top.head.getAs[Long]("vec_id") == 0L)
    assert(math.abs(top.head.getAs[Double]("sim") - 1.0) < 1e-9)
    val sims = top.map(_.getAs[Double]("sim")).toSeq
    assert(sims == sims.sortBy(-_), "top-k not sorted descending")
  }

  test("ANN top-k is a subset of the query's LSH bucket and includes the query") {
    val ann = SparkEntry.queries("q_ann_topk")(spark, sf0001).collect()
    assert(ann.map(_.getAs[Long]("vec_id")).contains(0L))
  }

  test("moving average stays within the series' [min, max]") {
    val ev = graft.sources.Tables.events(spark, sf0001)
    val bounds = ev.agg(min("value"), max("value")).head()
    val (lo, hi) = (bounds.getDouble(0), bounds.getDouble(1))
    val ma = SparkEntry.queries("q_moving_avg")(spark, sf0001)
    assert(ma.filter(col("moving_avg") < lo - 1e-9 || col("moving_avg") > hi + 1e-9).count() == 0)
  }

  test("simhash fingerprints fit in 60 bits and near-identical docs have small hamming distance") {
    val sh = SparkEntry.queries("q_simhash")(spark, sf0001)
    assert(sh.filter(col("simhash") < 0 || col("simhash") >= (1L << 60)).count() == 0)
  }

  test("floorDivCol matches Math.floorDiv across the full long range incl. above 2^53") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val cases = Seq(0L, 1L, -1L, 3599999L, 3600000L, -3600000L, -3600001L,
      (1L << 53) - 1, 1L << 53, 3098844271765815156L, Long.MaxValue - 17,
      Long.MinValue + 17) ++
      (1 to 200).map(_ => rng.nextLong())
    val w = 3600000L
    val got = cases.toDF("ts")
      .select(col("ts"), graft.model.floorDivCol(col("ts"), w).as("q"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cases.foreach { ts =>
      assert(got(ts) == Math.floorDiv(ts, w), s"ts=$ts got=${got(ts)}")
    }
  }

  test("dedup clusters: driver union-find and distributed label loop agree exactly") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val pairs = graft.operators.Dedup.simhashNearDupPairs(docs, 4)
    val viaDriver = graft.operators.Dedup.dedupClusters(pairs)
    val viaLoop = graft.operators.Dedup.dedupClusters(pairs, driverMaxEdges = -1L)
    assert(viaDriver.exceptAll(viaLoop).count() == 0 &&
      viaLoop.exceptAll(viaDriver).count() == 0)
    // every cluster id is the min doc_id of its member set
    val bad = viaDriver.groupBy("cluster_id")
      .agg(min(col("doc_id")).as("min_doc"))
      .filter(col("cluster_id") =!= col("min_doc"))
    assert(bad.count() == 0)
  }

  test("theta band join plans as BroadcastNestedLoopJoin (big side never shuffles)") {
    val df = SparkEntry.queries("q_theta_band")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(df.count() > 0)
  }

  test("pagerank plans as plain integer hash aggregates (no fold apparatus)") {
    // the round-6 redesign's contract: message sums are codegen'd long
    // sums — any reappearance of collect_list/sort_array (the old
    // sorted-fold) or an interpreted lambda in this plan is a regression
    val df = SparkEntry.queries("q_pagerank")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list"), plan.take(2000))
    assert(!plan.contains("sort_array"), plan.take(2000))
    assert(plan.contains("HashAggregate"), plan.take(2000))
    assert(df.count() > 0)
  }

  test("quantile sketch (approx_percentile) lands within 1% of the exact positional median") {
    val ev = graft.sources.Tables.events(spark, sf0001)
    val sketch = ev.groupBy("event_type")
      .agg(approx_percentile(col("value"), lit(0.5), lit(10000)).as("approx_med"))
    val exact = SparkEntry.queries("q_median_by_type")(spark, sf0001)
      .select(col("event_type"), col("median_value"))
    val joined = sketch.join(exact, "event_type").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (a, e) = (r.getAs[Double]("approx_med"), r.getAs[Double]("median_value"))
      assert(math.abs(a - e) <= math.abs(e) * 0.01 + 1e-9, s"approx=$a exact=$e")
    }
  }

  test("count-min sketch token counts land within the epsilon bound of exact counts") {
    val toks = graft.sources.Tables.documents(spark, sf0001)
      .select(explode(split(col("text"), " ")).as("tok"))
    val total = toks.count()
    val sketchBytes = toks
      .agg(count_min_sketch(col("tok"), lit(0.01), lit(0.99), lit(42)).as("s"))
      .head().getAs[Array[Byte]]("s")
    val sketch = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(sketchBytes))
    val exactTop = toks.groupBy("tok").count()
      .orderBy(col("count").desc, col("tok")).limit(5).collect()
    exactTop.foreach { r =>
      val (tok, exact) = (r.getString(0), r.getLong(1))
      val est = sketch.estimateCount(tok)
      // CMS never under-counts; over-count bounded by eps * stream size
      assert(est >= exact, s"$tok est=$est exact=$exact")
      assert(est <= exact + (0.01 * total).toLong + 1, s"$tok est=$est exact=$exact")
    }
  }

  test("HLL sketch (approx_count_distinct) lands within 10% of the exact distinct count") {
    val ev = graft.sources.Tables.events(spark, sf0001)
    val row = ev.agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id")).as("approx")).head()
    val (exact, approx) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact <= 0.10, s"exact=$exact approx=$approx")
  }

  test("range join pairs respect the window and key equality") {
    val df = SparkEntry.queries("q_range_join")(spark, sf0001)
    assert(df.filter(col("gap_us") < 0 || col("gap_us") > 3600000000L).count() == 0)
  }

  test("RRF fusion: hand-computed integer reciprocal weights, doc in both " +
      "lists outranks better single-list docs, ties impossible by vec_id") {
    import spark.implicits._
    import graft.operators.Similarity
    val listA = Seq((1L, "x", 0.9), (2L, "x", 0.8), (3L, "x", 0.7))
      .toDF("vec_id", "label", "sim")
    val listB = Seq((2L, "x", 0.95), (4L, "x", 0.5))
      .toDF("vec_id", "label", "sim")
    val got = Similarity.rrfFusion(Seq(listA, listB), 60, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    // w(r) = 10^12 div (60 + r): w(1)=16393442622, w(2)=16129032258,
    // w(3)=15873015873 — doc 2 fuses w(2)+w(1) and wins
    assert(got.map(_._1).toSeq == Seq(2L, 1L, 4L, 3L), got.mkString(","))
    assert(got(0) == (2L, 16393442622L + 16129032258L, 2L, 1L), got(0).toString)
    assert(got(1) == (1L, 16393442622L, 1L, 1L), got(1).toString)
    assert(got(3) == (3L, 15873015873L, 1L, 3L), got(3).toString)
  }

  test("interval overlap join: exactly-once across cells, closed endpoints, " +
      "point intervals, key isolation, malformed rows dropped") {
    import spark.implicits._
    import graft.operators.RangeJoin
    // cell width 100: pair (a1, b1) shares cells 0..3 -> must emit ONCE
    val a = Seq((1L, 10L, 50L, 350L),   // spans cells 0-3
      (1L, 11L, 500L, 600L),            // touches b2 at exactly 600
      (1L, 12L, 900L, 900L),            // point interval
      (2L, 13L, 0L, 1000L),             // other key: must not pair with key 1
      (1L, 14L, 80L, 20L))              // malformed (end < start): dropped
      .toDF("key", "id", "start_us", "end_us")
    val b = Seq((1L, 20L, 100L, 300L),  // overlaps a1 across 3 shared cells
      (1L, 21L, 600L, 700L),            // touches a11 endpoint -> overlap 0
      (1L, 22L, 900L, 950L),            // covers the a12 point
      (1L, 23L, 2000L, 2100L))          // overlaps nothing
      .toDF("key", "id", "start_us", "end_us")
    val got = RangeJoin.intervalOverlapJoin(a, b, 100L)
      .collect().map(r => ((r.getLong(1), r.getLong(2)),
        (r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got.size == 3, got.toString) // exactly-once: no multi-cell dups
    assert(got((10L, 20L)) == (100L, 300L, 200L), got.toString)
    assert(got((11L, 21L)) == (600L, 600L, 0L), got.toString)   // touch
    assert(got((12L, 22L)) == (900L, 900L, 0L), got.toString)   // point
  }

  test("sessionize: session bounds are consistent and gaps within sessions <= threshold") {
    val s = SparkEntry.queries("q_sessionize")(spark, sf0001)
    assert(s.filter(col("session_end_us") < col("session_start_us")).count() == 0)
    assert(s.filter(col("n_events") <= 0).count() == 0)
  }

  test("sessionizeBlocked is row-identical to sessionize on the corpus " +
      "and on block-boundary fixtures") {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sf0001)
    val gap = 1800000000L
    val plain = graft.operators.TimeSeries.sessionize(ev, gap)
    val blocked = graft.operators.TimeSeries.sessionizeBlocked(ev, gap, Blocks.session(gap))
    assert(plain.exceptAll(blocked).count() == 0 &&
      blocked.exceptAll(plain).count() == 0)
    // adversarial: gaps of exactly gapUs (merge) and gapUs+1 (split)
    // placed to STRADDLE block boundaries, a session spanning >2 blocks,
    // and same-ts duplicate events — tiny block (gap+1) maximizes
    // boundary sessions
    val gapT = 10L
    val blockT = gapT + 1L
    val ts = Seq(
      0L, gapT,                   // merge across blk 0->1 (exactly gap)
      3 * blockT, 3 * blockT,     // same-ts pair, new session
      5 * blockT, 5 * blockT + gapT, 5 * blockT + 2 * gapT, // 3-block chain
      9 * blockT, 9 * blockT + gapT + 1) // split at gap+1
    val fx = ts.zipWithIndex
      .map { case (t, i) => (7L, i.toLong, t) }
      .toDF("user_id", "event_id", "t_us")
      .select(col("user_id"), col("event_id"),
        timestamp_micros(col("t_us")).as("ts"))
    val p2 = graft.operators.TimeSeries.sessionize(fx, gapT)
    val b2 = graft.operators.TimeSeries.sessionizeBlocked(fx, gapT, Blocks.time(blockT))
    assert(p2.exceptAll(b2).count() == 0 && b2.exceptAll(p2).count() == 0,
      s"plain=${p2.collect().mkString(";")} blocked=${b2.collect().mkString(";")}")
    // {0,10} {33,33} {55,65,75} {99} {110}
    assert(p2.count() == 5)
  }

  test("sessionizeAdaptive dispatches on the measured hot-key share and is " +
      "bit-identical to plain on BOTH sides of the threshold") {
    import spark.implicits._
    val gapT = 10L
    // balanced: 4 users x 5 events (max share 0.25); skewed: one user
    // holds 17 of 20 events (share 0.85)
    def fx(rows: Seq[(Long, Long, Long)]) = rows
      .toDF("user_id", "event_id", "t_us")
      .select(col("user_id"), col("event_id"),
        timestamp_micros(col("t_us")).as("ts"))
    val balanced = fx(for (u <- 0L until 4L; i <- 0L until 5L)
      yield (u, u * 5 + i, i * (gapT + 2)))
    val skewed = fx((0L until 17L).map(i => (9L, i, i * (gapT + 2))) ++
      (0L until 3L).map(i => (i, 17L + i, i * 3)))
    // the dispatch signal itself, exact at fraction 1.0
    val (sBal, _, _) = Blocks.sampledKeyDensityStats(balanced, "user_id", 1.0)
    val (sSkw, _, _) = Blocks.sampledKeyDensityStats(skewed, "user_id", 1.0)
    assert(math.abs(sBal - 0.25) < 1e-9 && math.abs(sSkw - 0.85) < 1e-9,
      s"shares: balanced=$sBal skewed=$sSkw")
    // zero caller hints: same call on both inputs, exact either way
    // (blockRows = 2 keeps the r13 volume gate OPEN for the skewed
    // input: hot user 17 rows >= 2*2)
    for (ev <- Seq(balanced, skewed)) {
      val plain = graft.operators.TimeSeries.sessionize(ev, gapT)
      val adaptive = graft.operators.TimeSeries.sessionizeAdaptive(
        ev, gapT, blockRows = 2L, sampleFraction = 1.0)
      assert(plain.exceptAll(adaptive).count() == 0 &&
        adaptive.exceptAll(plain).count() == 0)
      val pa = graft.operators.Analytics.sessionPaths(
        ev.withColumn("event_type", concat(lit("e"), col("event_id") % 3)),
        gapT, 3, 20)
      val aa = graft.operators.Analytics.sessionPathsAdaptive(
        ev.withColumn("event_type", concat(lit("e"), col("event_id") % 3)),
        gapT, 3, 20, blockRows = 2L, sampleFraction = 1.0)
      assert(pa.exceptAll(aa).count() == 0 && aa.exceptAll(pa).count() == 0)
    }
    // threshold boundary: share exactly AT threshold goes blocked (>=),
    // and the count-block target is bit-identical to the time-block one
    assert(graft.operators.TimeSeries.sessionizeAdaptive(
      balanced, gapT, blockRows = 2L, sampleFraction = 1.0,
      skewThreshold = 0.25).exceptAll(
      graft.operators.TimeSeries.sessionizeBlocked(
        balanced, gapT, Blocks.time(gapT + 1))).count() == 0)
    // the r13 volume gate holds a dominant-but-small user on the plain
    // plan (hot 17 rows < 2*blockRows): observable — the count-blocked
    // plan carries joins (distributedRank offsets + ghost), plain none
    def hasJoin(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.nonEmpty
    assert(!hasJoin(graft.operators.TimeSeries.sessionizeAdaptive(
      skewed, gapT, blockRows = 64L, sampleFraction = 1.0)), "gate closed")
    assert(hasJoin(graft.operators.TimeSeries.sessionizeAdaptive(
      skewed, gapT, blockRows = 2L, sampleFraction = 1.0)), "gate open")
  }

  test("r14 probe-stats memo: a repeat blockDispatch over the same frame " +
      "runs ZERO jobs, serves the same decision, and still picks blocked " +
      "for the skewed frame; thresholds apply per call over memoized stats") {
    import spark.implicits._
    val gapT = 10L
    def fx(rows: Seq[(Long, Long, Long)]) = rows
      .toDF("user_id", "event_id", "t_us")
      .select(col("user_id"), col("event_id"),
        timestamp_micros(col("t_us")).as("ts"))
    val skewed = fx((0L until 17L).map(i => (9L, i, i * (gapT + 2))) ++
      (0L until 3L).map(i => (i, 17L + i, i * 3)))
    val balanced = fx(for (u <- 0L until 4L; i <- 0L until 5L)
      yield (u, u * 5 + i, i * (gapT + 2)))
    Blocks.memoProbeClear()
    try {
      def countJobs[A](body: => A): (A, Int) = SparkSpec.jobsDuring(body)
      val (d1, jobs1) = countJobs(
        Blocks.dispatch(skewed, "user_id", 2L, 1.0, 0.2))
      val (d2, jobs2) = countJobs(
        Blocks.dispatch(skewed, "user_id", 2L, 1.0, 0.2))
      assert(jobs1 >= 1, "first dispatch must run the probe job")
      assert(jobs2 == 0, s"repeat dispatch ran $jobs2 jobs — memo miss")
      assert(d1 == d2 && d1 != None,
        s"skewed frame must stay blocked on the memoized path ($d1 vs $d2)")
      // thresholds are applied per call OVER the memoized stats: the same
      // frame flips to plain at a threshold above its 0.85 share, zero jobs
      val (dHigh, jobsHigh) = countJobs(
        Blocks.dispatch(skewed, "user_id", 2L, 1.0, 0.9))
      assert(dHigh == None && jobsHigh == 0,
        s"threshold must re-apply over memoized stats ($dHigh, $jobsHigh jobs)")
      // a different frame is a different memo entry — fresh probe
      // (balanced max share is 0.25, so 0.3 dispatches plain)
      val (dBal, jobsBal) = countJobs(
        Blocks.dispatch(balanced, "user_id", 2L, 1.0, 0.3))
      assert(dBal == None && jobsBal >= 1,
        s"distinct frame must probe fresh ($dBal, $jobsBal jobs)")
      assert(Blocks.memoProbeSize >= 2)
      // overflow evicts one entry, never the whole memo: a frame that
      // keeps being dispatched stays a hit while the memo fills past
      // its bound twice over
      val memo = Blocks.probeStatsMemo
      (0 until 2 * Blocks.ProbeMemoMax).foreach { i =>
        memo.synchronized(memo.put((i, "filler", "k", 0.0, 0L), (0.0, 0.0, 0.0)))
        if (i % 256 == 0) {
          val (d, n) = countJobs(Blocks.dispatch(skewed, "user_id", 2L, 1.0, 0.2))
          assert(d == d1 && n == 0, s"hot frame missed the memo after $i fillers")
        }
      }
      assert(Blocks.memoProbeSize == Blocks.ProbeMemoMax)
      val (dHot, jobsHot) = countJobs(
        Blocks.dispatch(skewed, "user_id", 2L, 1.0, 0.2))
      assert(dHot == d1 && jobsHot == 0, s"hot frame evicted ($jobsHot jobs)")
    } finally Blocks.memoProbeClear()
  }

  test("the count-block session family (sessionizeBlockedRows / " +
      "sessionPathsBlockedRows / transitionMatrixBlockedRows) is " +
      "row-identical to the plain forms on the corpus and on tiny-block " +
      "adversarial fixtures") {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sf0001)
    def eq(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame, tag: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"$tag mismatch")
    val gap = 1800000000L
    eq(graft.operators.TimeSeries.sessionize(ev, gap),
      graft.operators.TimeSeries.sessionizeBlocked(ev, gap, Blocks.rows(16L)),
      "corpus sessionizeRows")
    eq(graft.operators.Analytics.sessionPaths(ev, gap, 3, 20),
      graft.operators.Analytics.sessionPathsBlocked(ev, gap, 3, 20, Blocks.rows(16L)),
      "corpus sessionPathsRows")
    eq(graft.operators.Analytics.transitionMatrix(ev),
      graft.operators.Analytics.transitionMatrixBlocked(ev, Blocks.rows(16L)),
      "corpus transitionRows")
    // adversarial: the sessionize boundary fixture (exact-gap merges,
    // same-ts duplicates, multi-block chains) under blockRows=2 — every
    // session straddles count blocks; gap semantics must be untouched
    val gapT = 10L
    val ts = Seq(0L, gapT, 33L, 33L, 55L, 65L, 75L, 99L, 110L)
    val fx = ts.zipWithIndex
      .map { case (t, i) => (7L, i.toLong, t) }
      .toDF("user_id", "event_id", "t_us")
      .select(col("user_id"), col("event_id"),
        timestamp_micros(col("t_us")).as("ts"))
    val p2 = graft.operators.TimeSeries.sessionize(fx, gapT)
    val b2 = graft.operators.TimeSeries.sessionizeBlocked(fx, gapT, Blocks.rows(2L))
    assert(p2.exceptAll(b2).count() == 0 && b2.exceptAll(p2).count() == 0,
      s"plain=${p2.collect().mkString(";")} rows=${b2.collect().mkString(";")}")
    assert(p2.count() == 5)
    val fxT = fx.withColumn("event_type", concat(lit("e"), col("event_id") % 3))
    eq(graft.operators.Analytics.sessionPaths(fxT, gapT, 3, 20),
      graft.operators.Analytics.sessionPathsBlocked(fxT, gapT, 3, 20, Blocks.rows(2L)),
      "fx sessionPathsRows")
    eq(graft.operators.Analytics.transitionMatrix(fxT),
      graft.operators.Analytics.transitionMatrixBlocked(fxT, Blocks.rows(2L)),
      "fx transitionRows")
  }

  test("the blocked series-window family (delta/counterRate/twa/" +
      "availability/cumSum/movingAvg) is row-identical to the plain " +
      "forms on the corpus and on boundary-adversarial fixtures, and " +
      "the adaptive dispatchers agree on BOTH sides of the threshold") {
    import graft.operators.TimeSeries
    def eq(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame, tag: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"$tag mismatch: plain=${a.count()} blocked=${b.count()} " +
          s"diff=${a.exceptAll(b).take(3).mkString(";")}")
    // fixture: block = 100 µs; series A straddles boundaries with a
    // counter RESET exactly at a boundary (50.0 -> 2.0 across 95->105),
    // an empty intermediate block (250 -> 460), and 2-decimal values;
    // series B is a single event (no pairs/deltas anywhere); series C
    // has two events in one block.
    import spark.implicits._
    val fx = Seq(
      ("A", 0L, 10L, 1.25), ("A", 1L, 95L, 50.0),
      ("A", 2L, 105L, 2.0), ("A", 3L, 199L, 2.5),
      ("A", 4L, 201L, 7.75), ("A", 5L, 250L, 3.0), ("A", 6L, 460L, 9.0),
      ("B", 7L, 130L, 4.0),
      ("C", 8L, 20L, 1.0), ("C", 9L, 30L, 0.5))
      .toDF("event_type", "event_id", "t_us", "value")
      .select(col("event_type"), col("event_id"), col("value"),
        timestamp_micros(col("t_us")).as("ts"))
    val corpus = graft.sources.Tables.events(spark, sf0001)
    for ((ev, blockUs, tag) <- Seq((fx, 100L, "fx"),
        (corpus, 3600000000L, "corpus"))) {
      eq(TimeSeries.windowDelta(ev),
        TimeSeries.windowDeltaBlocked(ev, Blocks.time(blockUs)), s"$tag windowDelta")
      eq(TimeSeries.counterRate(ev),
        TimeSeries.counterRateBlocked(ev, Blocks.time(blockUs)), s"$tag counterRate")
      eq(TimeSeries.timeWeightedAvg(ev),
        TimeSeries.timeWeightedAvgBlocked(ev, Blocks.time(blockUs)), s"$tag twa")
      eq(TimeSeries.availability(ev, 50L),
        TimeSeries.availabilityBlocked(ev, 50L, Blocks.time(blockUs)), s"$tag availability")
      eq(TimeSeries.cumSum(ev),
        TimeSeries.cumSumBlocked(ev, Blocks.time(blockUs)), s"$tag cumSum")
      // trailing=3 on the fixture exercises frames spanning >1 block
      // (and, with blockRows=4, a frame reaching only ghost rows)
      val trail = if (tag == "fx") 3 else 59
      val bRows = if (tag == "fx") 4L else 262144L
      eq(TimeSeries.movingAvg(ev, trail),
        TimeSeries.movingAvgBlocked(ev, trail, Blocks.rows(bRows)), s"$tag movingAvg")
      // r13 COUNT-block (density-proof) twins: bRows=2 on the fixture
      // forces a partial final block (A has 7 rows -> 3 full blocks +
      // 1), single-row series B (no ghosts at all), and every edge
      // kind; 64 on the 1000-row corpus gives several blocks/series
      val cRows = if (tag == "fx") 2L else 64L
      eq(TimeSeries.windowDelta(ev),
        TimeSeries.windowDeltaBlocked(ev, Blocks.rows(cRows)), s"$tag windowDeltaRows")
      eq(TimeSeries.counterRate(ev),
        TimeSeries.counterRateBlocked(ev, Blocks.rows(cRows)), s"$tag counterRateRows")
      eq(TimeSeries.timeWeightedAvg(ev),
        TimeSeries.timeWeightedAvgBlocked(ev, Blocks.rows(cRows)), s"$tag twaRows")
      eq(TimeSeries.availability(ev, 50L),
        TimeSeries.availabilityBlocked(ev, 50L, Blocks.rows(cRows)),
        s"$tag availabilityRows")
      eq(TimeSeries.cumSum(ev),
        TimeSeries.cumSumBlocked(ev, Blocks.rows(cRows)), s"$tag cumSumRows")
    }
    // adaptive: zero caller hints, bit-identical on BOTH dispatch sides —
    // fx is balanced-ish (A=70%); force both branches via threshold.
    // blockRows=2 keeps the r13 volume gate OPEN (hot rows 7 >= 2*2) so
    // thr=0.05 really takes the blocked branch.
    for (thr <- Seq(0.05, 0.99)) {
      eq(TimeSeries.windowDelta(fx), TimeSeries.windowDeltaAdaptive(
        fx, 2L, sampleFraction = 1.0, skewThreshold = thr), s"adaptive d $thr")
      eq(TimeSeries.counterRate(fx), TimeSeries.counterRateAdaptive(
        fx, 2L, sampleFraction = 1.0, skewThreshold = thr), s"adaptive c $thr")
      eq(TimeSeries.timeWeightedAvg(fx), TimeSeries.timeWeightedAvgAdaptive(
        fx, 2L, sampleFraction = 1.0, skewThreshold = thr), s"adaptive t $thr")
      eq(TimeSeries.availability(fx, 50L), TimeSeries.availabilityAdaptive(
        fx, 50L, 2L, sampleFraction = 1.0, skewThreshold = thr), s"adaptive a $thr")
      eq(TimeSeries.cumSum(fx), TimeSeries.cumSumAdaptive(
        fx, 2L, sampleFraction = 1.0, skewThreshold = thr), s"adaptive s $thr")
      eq(TimeSeries.movingAvg(fx, 1), TimeSeries.movingAvgAdaptive(
        fx, 1, 2L, sampleFraction = 1.0, skewThreshold = thr), s"adaptive m $thr")
    }
    // a block size must be positive: no silent fallback to a default
    for (bad <- Seq(0L, -1L, Long.MinValue)) {
      intercept[IllegalArgumentException](Blocks.time(bad))
      intercept[IllegalArgumentException](Blocks.rows(bad))
    }
  }

  test("the r13 adaptive volume gate: a dominant-but-small series stays " +
      "on the plain plan; crossing 2x blockRows flips to blocked; the " +
      "probe stats are exact at fraction 1.0") {
    import graft.operators.TimeSeries
    import spark.implicits._
    // series A: 7 of 10 rows (share 0.7, rows 7)
    val fx = Seq(
      ("A", 0L, 10L, 1.25), ("A", 1L, 95L, 50.0),
      ("A", 2L, 105L, 2.0), ("A", 3L, 199L, 2.5),
      ("A", 4L, 201L, 7.75), ("A", 5L, 250L, 3.0), ("A", 6L, 460L, 9.0),
      ("B", 7L, 130L, 4.0),
      ("C", 8L, 20L, 1.0), ("C", 9L, 30L, 0.5))
      .toDF("event_type", "event_id", "t_us", "value")
      .select(col("event_type"), col("event_id"), col("value"),
        timestamp_micros(col("t_us")).as("ts"))
    val (share, hotRows, _) = Blocks.sampledKeyDensityStats(fx, "event_type", 1.0)
    assert(math.abs(share - 0.7) < 1e-9 && math.abs(hotRows - 7.0) < 1e-9,
      s"stats: share=$share hotRows=$hotRows")
    // the dispatch choice is OBSERVABLE in the plan: plain has no join;
    // the TIME-blocked form carries exactly the summary neighbor join;
    // the COUNT-blocked form adds distributedRank's offsets join (2)
    def nJoins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.size
    // share 0.7 >= 0.05 but 7 < 2*4: volume gate holds it on plain
    assert(nJoins(TimeSeries.windowDeltaAdaptive(
      fx, 4L, sampleFraction = 1.0, skewThreshold = 0.05)) == 0, "gate closed")
    // 7 >= 2*3 and all rows inside ONE hour (densest hour 7 > 3):
    // the burst shape -> COUNT blocks. 3 joins: the ghost join plus the
    // rank-offsets broadcast join appearing under BOTH the local and
    // the ghost branch (they re-derive rn from the checkpointed
    // exchange; the offsets frame is tiny either way)
    assert(nJoins(TimeSeries.windowDeltaAdaptive(
      fx, 3L, sampleFraction = 1.0, skewThreshold = 0.05)) == 3, "count branch")
    // share below threshold never goes blocked, whatever the volume
    assert(nJoins(TimeSeries.windowDeltaAdaptive(
      fx, 3L, sampleFraction = 1.0, skewThreshold = 0.75)) == 0, "share gate")
    // density branch: the same dominant series SPREAD one row per hour
    // (densest hour 1 <= 3) -> TIME blocks, the cheap fix (one join)
    val spread = Seq(
      ("A", 0L, 0L, 1.25), ("A", 1L, 1L, 50.0), ("A", 2L, 2L, 2.0),
      ("A", 3L, 3L, 2.5), ("A", 4L, 4L, 7.75), ("A", 5L, 5L, 3.0),
      ("A", 6L, 6L, 9.0), ("B", 7L, 1L, 4.0), ("C", 8L, 0L, 1.0),
      ("C", 9L, 2L, 0.5))
      .toDF("event_type", "event_id", "hour", "value")
      .select(col("event_type"), col("event_id"), col("value"),
        timestamp_micros(col("hour") * 3600000000L).as("ts"))
    assert(nJoins(TimeSeries.windowDeltaAdaptive(
      spread, 3L, sampleFraction = 1.0, skewThreshold = 0.05)) == 1,
      "time branch")
    // and the dispatch signal itself, exact at fraction 1.0
    val (shS, rowsS, hourS) =
      Blocks.sampledKeyDensityStats(spread, "event_type", 1.0)
    assert(math.abs(shS - 0.7) < 1e-9 && math.abs(rowsS - 7.0) < 1e-9 &&
      math.abs(hourS - 1.0) < 1e-9, s"density stats: $shS $rowsS $hourS")
    val (_, _, hourB) = Blocks.sampledKeyDensityStats(fx, "event_type", 1.0)
    assert(math.abs(hourB - 7.0) < 1e-9, s"burst densest hour: $hourB")
  }

  /** The branch an adaptive entry point took, read from its optimized
    * plan: no `blk` attribute is plain; `blk` without the rank-offsets
    * join (the one on `pid`) is a time cut; `blk` with it a count cut. */
  private def branchOf(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val plan = df.queryExecution.optimizedPlan
    val blk = plan.find(_.output.exists(_.name == "blk")).isDefined
    val rank = plan.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "pid")) => j
    }.nonEmpty
    if (!blk) "plain" else if (rank) "count" else "time"
  }

  test("an adaptive entry point never picks a branch it cannot run: " +
      "movingAvg with blockRows <= trailing stays plain, and a session " +
      "family with gap 0 takes the count cut") {
    import graft.operators.{Analytics, TimeSeries}
    import spark.implicits._
    def eq(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame, tag: String): Unit =
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        s"$tag mismatch")
    // series A holds 7 of 10 rows: share and volume gates open at
    // blockRows = 2, but no 2-row block can carry a 3-row trailing frame
    val fx = Seq(
      ("A", 0L, 10L, 1.25), ("A", 1L, 95L, 50.0),
      ("A", 2L, 105L, 2.0), ("A", 3L, 199L, 2.5),
      ("A", 4L, 201L, 7.75), ("A", 5L, 250L, 3.0), ("A", 6L, 460L, 9.0),
      ("B", 7L, 130L, 4.0),
      ("C", 8L, 20L, 1.0), ("C", 9L, 30L, 0.5))
      .toDF("event_type", "event_id", "t_us", "value")
      .select(col("event_type"), col("event_id"), col("value"),
        timestamp_micros(col("t_us")).as("ts"))
    val ma = TimeSeries.movingAvgAdaptive(fx, 3, 2L, sampleFraction = 1.0,
      skewThreshold = 0.05)
    eq(TimeSeries.movingAvg(fx, 3), ma, "movingAvg trailing 3, blockRows 2")
    assert(branchOf(ma) == "plain")
    // user 9 holds 17 of 20 rows, at most 2 per hour (a same-ts pair in
    // hour 0): the density gate would take a time cut, but with gap 0 no
    // time cut can exceed the gap
    val hour = 3600000000L
    val spread = ((0L, 0L) +: (0L until 16L).map(i => (i + 1, i * hour)))
      .map { case (id, t) => (9L, id, t) } ++
      (0L until 3L).map(i => (i, 17L + i, i * hour))
    val ev = spread.toDF("user_id", "event_id", "t_us")
      .select(col("user_id"), col("event_id"),
        concat(lit("e"), col("event_id") % 3).as("event_type"),
        timestamp_micros(col("t_us")).as("ts"))
    val s = TimeSeries.sessionizeAdaptive(ev, 0L, blockRows = 2L,
      sampleFraction = 1.0)
    eq(TimeSeries.sessionize(ev, 0L), s, "sessionize gap 0")
    assert(branchOf(s) == "count")
    val p = Analytics.sessionPathsAdaptive(ev, 0L, 3, 20, blockRows = 2L,
      sampleFraction = 1.0)
    eq(Analytics.sessionPaths(ev, 0L, 3, 20), p, "sessionPaths gap 0")
    assert(branchOf(p) == "count")
  }

  test("every adaptive entry point is wired to its own branches: plain on " +
      "a balanced input, the count cut on a burst, the time cut on a " +
      "spread (movingAvg: count), each row-identical to the plain form") {
    import graft.operators.{Analytics, TimeSeries}
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val hour = 3600000000L
    // (key, t_us) per row; key 0 is the hot key of burst and spread
    val balanced = for (k <- 0L until 6L; i <- 0L until 4L)
      yield (k, (k * 4 + i) * hour / 3)
    val others = (1L to 3L).map(k => (k, k * hour))
    val burst = (0L until 17L).map(i =>
      (0L, (i / 4) * 300000000L + (i % 4) * 30000000L)) ++ others
    val spread = (0L until 17L).map(i => (0L, i * hour)) ++ others
    // series families key on event_type, session families on user_id
    def series(rows: Seq[(Long, Long)]): DataFrame = rows.zipWithIndex
      .map { case ((k, t), i) => (s"s$k", i.toLong, t, (i % 7) * 1.25 + 0.5) }
      .toDF("event_type", "event_id", "t_us", "value")
      .select(col("event_type"), col("event_id"), col("value"),
        timestamp_micros(col("t_us")).as("ts"))
    def users(rows: Seq[(Long, Long)]): DataFrame = rows.zipWithIndex
      .map { case ((k, t), i) => (k, i.toLong, t) }
      .toDF("user_id", "event_id", "t_us")
      .select(col("user_id"), col("event_id"),
        concat(lit("e"), col("event_id") % 3).as("event_type"),
        timestamp_micros(col("t_us")).as("ts"))
    // a 1-min gap keeps the 64×gap time cut near one hour, so the spread
    // hot user's densest block still fits one 2-row count block
    val gap = 60000000L
    val slo = 1800000000L
    val entries: Seq[(String, Seq[(Long, Long)] => DataFrame, DataFrame => DataFrame,
        DataFrame => DataFrame, Boolean)] = Seq(
      ("windowDelta", series, TimeSeries.windowDelta(_),
        TimeSeries.windowDeltaAdaptive(_, 2L, 1.0), true),
      ("counterRate", series, TimeSeries.counterRate(_),
        TimeSeries.counterRateAdaptive(_, 2L, 1.0), true),
      ("timeWeightedAvg", series, TimeSeries.timeWeightedAvg(_),
        TimeSeries.timeWeightedAvgAdaptive(_, 2L, 1.0), true),
      ("availability", series, TimeSeries.availability(_, slo),
        TimeSeries.availabilityAdaptive(_, slo, 2L, 1.0), true),
      ("cumSum", series, TimeSeries.cumSum(_),
        TimeSeries.cumSumAdaptive(_, 2L, 1.0), true),
      ("movingAvg", series, TimeSeries.movingAvg(_, 1),
        TimeSeries.movingAvgAdaptive(_, 1, 2L, 1.0), false),
      ("sessionize", users, TimeSeries.sessionize(_, gap),
        TimeSeries.sessionizeAdaptive(_, gap, 2L, 1.0), true),
      ("sessionPaths", users, Analytics.sessionPaths(_, gap, 3, 20),
        Analytics.sessionPathsAdaptive(_, gap, 3, 20, 2L, 1.0), true),
      ("transitionMatrix", users, Analytics.transitionMatrix(_),
        Analytics.transitionMatrixAdaptive(_, 2L, 1.0), true))
    for ((name, frame, plain, adaptive, hasTime) <- entries;
         (shape, rows, want) <- Seq(("balanced", balanced, "plain"),
           ("burst", burst, "count"),
           ("spread", spread, if (hasTime) "time" else "count"))) {
      val ev = frame(rows)
      val (p, a) = (plain(ev), adaptive(ev))
      assert(branchOf(a) == want, s"$name on $shape took ${branchOf(a)}")
      assert(p.exceptAll(a).count() == 0 && a.exceptAll(p).count() == 0,
        s"$name on $shape: adaptive differs from plain")
    }
  }

  test("transitionMatrixBlocked/Adaptive are row-identical to the plain " +
      "build on the corpus and on a block-boundary-straddling fixture") {
    import spark.implicits._
    // fixture: pairs that straddle block boundaries (block = 100 µs) —
    // the cross-block stitch must contribute exactly the boundary pairs,
    // including across an EMPTY intermediate block (u=1, 95 -> 310)
    def fx(rows: Seq[(Long, Long, Long, String)]) = rows
      .toDF("user_id", "event_id", "t_us", "event_type")
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_micros(col("t_us")).as("ts"))
    val straddle = fx(Seq(
      (0L, 0L, 10L, "a"), (0L, 1L, 95L, "b"),   // in-block pair a>b
      (0L, 2L, 105L, "c"), (0L, 3L, 199L, "a"), // boundary b>c, local c>a
      (0L, 4L, 201L, "b"),                      // boundary a>b
      (1L, 5L, 95L, "x"), (1L, 6L, 310L, "y"),  // empty block between
      (2L, 7L, 50L, "z")))                      // single event: no pairs
    val plain = graft.operators.Analytics.transitionMatrix(straddle)
    val blocked = graft.operators.Analytics.transitionMatrixBlocked(
      straddle, Blocks.time(100L))
    assert(plain.exceptAll(blocked).count() == 0 &&
      blocked.exceptAll(plain).count() == 0,
      s"plain=${plain.collect().mkString(";")} " +
        s"blocked=${blocked.collect().mkString(";")}")
    // closed form: u0 has 4 adjacencies (a>b, b>c, c>a, a>b), u1 one
    // (x>y), u2 none → 5 adjacencies over 4 distinct (from,to) rows
    assert(plain.agg(sum("n")).collect()(0).getLong(0) == 5 &&
      plain.count() == 4)
    // adaptive: zero caller hints, bit-identical on BOTH dispatch sides
    val skewed = fx((0L until 17L).map(i => (9L, i, i * 40L, s"e${i % 3}")) ++
      (0L until 3L).map(i => (i, 17L + i, i * 3L, "e0")))
    for (ev <- Seq(straddle, skewed)) {
      val p = graft.operators.Analytics.transitionMatrix(ev)
      // blockRows = 2 keeps the r13 volume gate open for the skewed
      // input (hot user 17 rows >= 2*2)
      val a = graft.operators.Analytics.transitionMatrixAdaptive(
        ev, blockRows = 2L, sampleFraction = 1.0)
      assert(p.exceptAll(a).count() == 0 && a.exceptAll(p).count() == 0)
    }
    // corpus: real events table, default (1 h) block
    val events = graft.sources.Tables.events(spark, sf0001)
    val pc = graft.operators.Analytics.transitionMatrix(events)
    val bc = graft.operators.Analytics.transitionMatrixBlocked(events)
    assert(pc.exceptAll(bc).count() == 0 && bc.exceptAll(pc).count() == 0)
  }

  test("sessionPathsBlocked is row-identical to sessionPaths on the corpus " +
      "and on a prefix-straddling fixture") {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sf0001)
    val a = graft.operators.Analytics.sessionPaths(ev, 1800000000L, 3, 20)
    val b = graft.operators.Analytics.sessionPathsBlocked(ev, 1800000000L, 3, 20,
      Blocks.session(1800000000L))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      s"plain=${a.collect().mkString(";")} blocked=${b.collect().mkString(";")}")
    // a session whose 3-event prefix STRADDLES a block boundary: local
    // session 1 contributes 2 events, local session 2 the third; plus a
    // long session whose prefix is entirely in block 1 but whose true
    // end reaches block 3 (stitch must use the TRUE end, not the
    // prefix-truncated one)
    val gapT = 10L
    val blockT = gapT + 1L
    val rows = Seq(
      (1L, 0L, "a", 5L), (1L, 1L, "b", blockT + 4L), (1L, 2L, "c", blockT + 5L),
      (1L, 3L, "d", blockT + 6L),
      (2L, 4L, "x", 0L), (2L, 5L, "y", 1L), (2L, 6L, "z", 2L),
      (2L, 7L, "w", gapT), (2L, 8L, "v", 2 * gapT), (2L, 9L, "u", 3 * gapT))
    val fx = rows.toDF("user_id", "event_id", "event_type", "t_us")
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_micros(col("t_us")).as("ts"))
    val p2 = graft.operators.Analytics.sessionPaths(fx, gapT, 3, 20)
    val b2 = graft.operators.Analytics.sessionPathsBlocked(fx, gapT, 3, 20, Blocks.time(blockT))
    assert(p2.exceptAll(b2).count() == 0 && b2.exceptAll(p2).count() == 0,
      s"plain=${p2.collect().mkString(";")} blocked=${b2.collect().mkString(";")}")
    val paths = p2.collect().map(_.getString(0)).toSet
    assert(paths == Set("a>b>c", "x>y>z"), paths.toString)
  }

  test("sessionizeNative merges touching windows at EXACTLY gap and splits " +
      "past it; end = last_ts + gap") {
    import spark.implicits._
    val gapUs = 10L * 1000000L
    val touch = Seq((1L, 1L, 0L), (1L, 2L, gapUs)) // exactly gap apart
      .toDF("user_id", "event_id", "t_us")
      .select(col("user_id"), col("event_id"),
        timestamp_micros(col("t_us")).as("ts"))
    val merged = graft.operators.TimeSeries.sessionizeNative(touch, gapUs)
      .collect()
    // session_window COALESCES touching ranges — same strict-> split rule
    // as the island method (pinned here; the oracle encodes exactly this)
    assert(merged.length == 1 && merged(0).getLong(3) == 2L)
    assert(merged(0).getLong(2) == gapUs + gapUs, "end = last_ts + gap")
    val split = Seq((1L, 1L, 0L), (1L, 2L, gapUs + 1L))
      .toDF("user_id", "event_id", "t_us")
      .select(col("user_id"), col("event_id"),
        timestamp_micros(col("t_us")).as("ts"))
    assert(graft.operators.TimeSeries.sessionizeNative(split, gapUs)
      .collect().length == 2, "past the gap must split")
  }

  test("modularity: two bridged triangles under their natural labeling " +
      "give Q = 5/14") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
        (5L, 6L), (3L, 4L)) // bridge 3-4
      .toDF("u", "v")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
        (6L, 4L)).toDF("node", "lab")
    val got = graft.operators.Graph.modularity(pairs, labels)
      .orderBy("label").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // per community: e_in=3, d=7, m=7 -> term (4*7*3-49)/196 = 35/196
    assert(got.toSeq == Seq((1L, 3L, 3L, 7L, 35.0 / 196.0),
      (4L, 3L, 3L, 7L, 35.0 / 196.0)))
    assert(math.abs(got.map(_._5).sum - 5.0 / 14.0) < 1e-15)
  }

  test("r15 in-row co-purchase pair generation ≡ the self-join forms " +
      "(real lineitem and a duplicate-heavy synthetic order)") {
    import spark.implicits._
    val li = graft.sources.Tables.lineitem(spark, sf0001)
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pset(graft.operators.Graph.partCoPurchasePairs(li)) ==
      pset(ReferenceForms.partCoPurchasePairsJoined(li)))
    def wset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
    assert(wset(graft.operators.Graph.coPurchaseWeights(li)) ==
      wset(ReferenceForms.coPurchaseWeightsJoined(li)))
    // duplicate partkeys within one order: the set form must not pair a
    // part with itself, the list form must count occurrence pairs
    // (occ(u)·occ(v)) exactly as the join did
    val dup = Seq((1L, 10L), (1L, 10L), (1L, 20L), (1L, 30L), (2L, 10L))
      .toDF("l_orderkey", "l_partkey")
    assert(pset(graft.operators.Graph.partCoPurchasePairs(dup)) ==
      Seq((10L, 20L), (10L, 30L), (20L, 30L)))
    assert(wset(graft.operators.Graph.coPurchaseWeights(dup)) ==
      wset(ReferenceForms.coPurchaseWeightsJoined(dup)))
    val w = graft.operators.Graph.coPurchaseWeights(dup).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(w((10L, 20L)) == 1000000000000L / 2, "occ(10)=2 -> cnt 2")
    assert(w((20L, 30L)) == 1000000000000L)
  }

  test("IVF top-k: cluster assignment is shuffle-free (only the top-k exchanges)") {
    val df = SparkEntry.queries("q_ivf_topk")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    // literal-centroid assignment + probe filter happen in the scan stage;
    // the only allowed exchange shape is the final TakeOrderedAndProject
    // (which needs no shuffle on local partitions) — no Exchange at all
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // and it finds the query vector itself
    assert(df.collect().map(_.getAs[Long]("vec_id")).contains(0L))
  }

  test("IVF top-k agrees with brute force on vectors inside the probed clusters") {
    val ivf = SparkEntry.queries("q_ivf_topk")(spark, sf0001).collect()
    val sims = ivf.map(_.getAs[Double]("sim")).toSeq
    assert(sims == sims.sortBy(-_), "IVF top-k not sorted descending")
    val brute = SparkEntry.queries("q_similarity_topk")(spark, sf0001)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("sim")).toMap
    // every IVF hit that brute force also ranked must carry the SAME sim
    ivf.foreach { r =>
      brute.get(r.getAs[Long]("vec_id")).foreach { bs =>
        assert(bs == r.getAs[Double]("sim"), "sim mismatch vs brute force")
      }
    }
  }

  test("OHLC bars: high/low bound open/close, and the plan is one hash agg (no window sort)") {
    val df = SparkEntry.queries("q_ohlc")(spark, sf0001)
    val bad = df.filter(
      col("high") < col("low") ||
      col("open") > col("high") || col("open") < col("low") ||
      col("close") > col("high") || col("close") < col("low") ||
      col("n_points") <= 0)
    assert(bad.count() == 0)
    // min_by/max_by keep this a single aggregation — a row_number
    // formulation would add a per-partition window sort
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("counter rate: single-bucket totals are consistent and resets never go negative") {
    val df = SparkEntry.queries("q_counter_rate")(spark, sf0001)
    // events values are positive, so every increase (delta or reset value)
    // is >= 0 and so is each bucket's sum
    assert(df.filter(col("increase_sum") < 0).count() == 0)
    assert(df.filter(col("n_increases") < 0).count() == 0)
    assert(df.count() > 0)
  }

  test("stratified sample: exactly k rows per stratum, deterministic across runs") {
    val a = SparkEntry.queries("q_stratified_sample")(spark, sf0001)
    val perStratum = a.groupBy("event_type").count().collect()
    assert(perStratum.nonEmpty)
    perStratum.foreach(r => assert(r.getLong(1) == 20L, r.toString))
    val b = SparkEntry.queries("q_stratified_sample")(spark, sf0001)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("top terms: at most k per doc, ranks contiguous from 1, scores positive") {
    val df = SparkEntry.queries("q_top_terms")(spark, sf0001)
    assert(df.filter(col("rk") < 1 || col("rk") > 3).count() == 0)
    assert(df.filter(col("score") <= 0).count() == 0)
    val perDoc = df.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max(col("rk")).as("max_rk"))
    assert(perDoc.filter(col("n") =!= col("max_rk")).count() == 0,
      "ranks must be contiguous 1..n")
  }

  test("batch top-k: every query vector ranks itself first with sim ≈ 1") {
    val rows = SparkEntry.queries("q_sim_topk_batch")(spark, sf0001).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet == Set(0L, 1L, 2L))
    byQuery.foreach { case (qid, rs) =>
      val first = rs.find(_.getAs[Long]("rk") == 1L).get
      assert(first.getAs[Long]("vec_id") == qid)
      assert(math.abs(first.getAs[Double]("sim") - 1.0) < 1e-9)
    }
  }

  test("hourly active and cohorts: counts bounded, no activity before a cohort") {
    val ha = SparkEntry.queries("q_hourly_active")(spark, sf0001)
    assert(ha.filter(col("n_active_users") > col("n_events") ||
      col("n_active_users") < 1).count() == 0)
    val rc = SparkEntry.queries("q_retention_cohorts")(spark, sf0001)
    // a user cannot be active before their first-seen hour
    assert(rc.filter(col("active_us") < col("cohort_us")).count() == 0)
    assert(rc.filter(col("n_users") < 1).count() == 0)
  }

  test("quantiles: p50 <= p90 <= p99 per series") {
    val df = SparkEntry.queries("q_quantiles")(spark, sf0001)
    assert(df.count() > 0)
    assert(df.filter(col("p50") > col("p90") || col("p90") > col("p99")).count() == 0)
  }

  test("cumsum: the final running sum per series equals the exact series total") {
    val cs = SparkEntry.queries("q_cumsum")(spark, sf0001)
    val lastPer = cs.groupBy("event_type")
      .agg(max_by(col("running_sum"), struct(col("ts_us"), col("event_id"))).as("final_sum"))
    val want = graft.sources.Tables.events(spark, sf0001)
      .groupBy("event_type")
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
    val joined = lastPer.join(want, "event_type").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[Double]("final_sum") == r.getAs[Double]("total"), r.toString)
    }
  }

  test("series align: absent side carries n=0 with null sum, buckets cover both series") {
    val df = SparkEntry.queries("q_series_align")(spark, sf0001)
    assert(df.filter(col("a_n") === 0 && col("a_sum").isNotNull).count() == 0)
    assert(df.filter(col("b_n") === 0 && col("b_sum").isNotNull).count() == 0)
    assert(df.filter(col("a_n") === 0 && col("b_n") === 0).count() == 0,
      "a bucket must exist on at least one side")
  }

  test("cross-correlation at lag is a valid Pearson r") {
    val r = SparkEntry.queries("q_xcorr_lag")(spark, sf0001).head()
    assert(r.getAs[Long]("n") > 2)
    val p = r.getAs[Double]("pearson_r")
    assert(p >= -1.0 - 1e-12 && p <= 1.0 + 1e-12, s"r=$p")
  }

  test("runtime bloom filter prunes the big side of a selective fact-fact join") {
    // Catalyst's InjectRuntimeFilter: a selective filter on the build side
    // turns into a might_contain() bloom probe on the fact scan — the
    // row-level companion of partition pruning, free because the plan is
    // declarative. Thresholds are tuned down only because the test data is
    // tiny; at 100 TB the defaults engage on their own.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = graft.sources.Tables.lineitem(spark, sf0001)
      val sel = graft.sources.Tables.orders(spark, sf0001)
        .filter(col("o_totalprice") > 400000.0) // selective build side
      val j = li.join(sel, col("l_orderkey") === col("o_orderkey"))
      assert(j.queryExecution.optimizedPlan.toString.contains("might_contain"),
        "runtime bloom filter was not injected")
      // and the filter is an optimization only — results are unchanged
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val plain = li.join(sel, col("l_orderkey") === col("o_orderkey")).count()
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      assert(j.count() == plain)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("TPC-H shapes: Q3 descending top-10, Q6 single sum, Q14 pct within bounds") {
    val q3 = SparkEntry.queries("q_tpch_q3")(spark, sf0001).collect()
    assert(q3.length <= 10 && q3.nonEmpty)
    val revs = q3.map(_.getAs[Double]("revenue")).toSeq
    assert(revs == revs.sortBy(-_), "Q3 not sorted by revenue desc")
    assert(revs.forall(_ > 0))
    val q6 = SparkEntry.queries("q_tpch_q6")(spark, sf0001).head()
    assert(q6.getAs[Double]("revenue") > 0)
    val q14 = SparkEntry.queries("q_tpch_q14")(spark, sf0001).head()
    val pct = q14.getAs[Double]("promo_pct")
    assert(pct >= 0.0 && pct <= 100.0, s"pct=$pct")
    assert(q14.getAs[Double]("promo_rev") <= q14.getAs[Double]("total_rev"))
  }

  test("TPC-H shapes: Q12 counts partition the year, Q13 distribution covers " +
      "every customer, Q15 winners hold the max, Q22 nations stay in the subset") {
    import graft.operators.Relational
    import graft.sources.Tables
    // Q12: high + low must tile exactly the 1997-shipped lines with an order
    val q12 = SparkEntry.queries("q_tpch_q12")(spark, sf0001).collect()
    val lines1997 = Tables.lineitem(spark, sf0001)
      .filter(year(col("l_shipdate")) === 1997)
      .join(Tables.orders(spark, sf0001), col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(q12.map(r => r.getAs[Long]("high_line_count") +
      r.getAs[Long]("low_line_count")).sum == lines1997)
    // Q13: the distribution's custdist column must sum to |customer|
    val q13 = SparkEntry.queries("q_tpch_q13")(spark, sf0001).collect()
    assert(q13.map(_.getAs[Long]("custdist")).sum ==
      Tables.customer(spark, sf0001).count())
    // Q13's zero bucket is exactly the customers the outer join preserved
    // with no qualifying order (absent bucket == zero such customers)
    val zeroBucket = q13.find(_.getAs[Long]("c_count") == 0L)
      .map(_.getAs[Long]("custdist")).getOrElse(0L)
    val orderless = Tables.customer(spark, sf0001)
      .join(Tables.orders(spark, sf0001)
          .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED"),
        col("c_custkey") === col("o_custkey"), "left_anti").count()
    assert(zeroBucket == orderless)
    // Q15: at least one winner, and no other supplier strictly beats it
    val q15 = SparkEntry.queries("q_tpch_q15")(spark, sf0001).collect()
    assert(q15.nonEmpty)
    val winner = q15.map(_.getAs[Double]("total_revenue")).max
    val bestAnywhere = Relational.topSupplierRevenue(
      Tables.lineitem(spark, sf0001), Tables.supplier(spark, sf0001),
      "1997-01-01 00:00:00", "1997-04-01 00:00:00")
      .agg(max(col("total_revenue"))).head().getDouble(0)
    assert(winner == bestAnywhere)
    // Q22: only the configured nation keys can appear, and counts are positive
    val allowed = Seq(1, 3, 5, 7, 9, 11, 13).map(k => s"NATION_$k").toSet
    val q22 = SparkEntry.queries("q_tpch_q22")(spark, sf0001).collect()
    assert(q22.forall(r => allowed.contains(r.getAs[String]("n_name"))))
    assert(q22.forall(_.getAs[Long]("numcust") > 0))
    // Q17's rearranged predicate (5·qty·n < Σqty) keeps only below-20%-of-mean
    // lines: recompute the threshold the naive way and compare the revenue
    val q17 = SparkEntry.queries("q_tpch_q17")(spark, sf0001).head()
    val li = Tables.lineitem(spark, sf0001)
    val pk = Tables.part(spark, sf0001).filter(col("p_brand") === "Brand#11")
      .select(col("p_partkey"))
    val bl = li.join(pk, col("l_partkey") === col("p_partkey"), "left_semi")
    val withAvg = bl.groupBy(col("l_partkey").as("ap"))
      .agg(avg(col("l_quantity")).as("avg_q"))
    val naive = bl.join(withAvg, col("l_partkey") === col("ap"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_q"))
      .agg((sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") /
        lit(7.0)).as("v")).head().getAs[Double]("v")
    assert(math.abs(q17.getAs[Double]("avg_yearly") - naive) < 1e-6)
  }

  test("lttb matches a sequential reference walk on seeded series and passes " +
      "small series through unchanged") {
    import spark.implicits._
    // independent single-threaded LTTB (Steinarsson 2013) over one series,
    // with the operator's EXACT scaled argmax score: areas scaled by the
    // next bucket's count and the 100× value quantum clear both centroid
    // denominators, so selection is pure integer arithmetic compared
    // exactly (mirroring the engine) — no FP near-tie can flip a pick
    def lttbRef(pts: IndexedSeq[(Long, Double)], nOut: Int): Seq[(Long, Double)] = {
      val n = pts.length
      if (n <= nOut) return pts
      val fts = pts.head._1
      def y100(v: Double): BigInt = BigInt(math.round(v * 100))
      val mid = pts.slice(1, n - 1)
      def bucketOf(i: Int): Int = ((i.toLong * (nOut - 2)) / (n - 2)).toInt
      val buckets = (0 until nOut - 2).map(b =>
        mid.zipWithIndex.filter(z => bucketOf(z._2) == b).map(_._1))
      var prev = pts.head
      val sel = scala.collection.mutable.Buffer(pts.head)
      for (bi <- 0 until nOut - 2) {
        // next-bucket exact centroid triple (Σx offsets, Σy·100, count);
        // the last bucket aims at the series' last point
        val (sxn, syn, cn) =
          if (bi + 1 < nOut - 2) {
            val nx = buckets(bi + 1)
            (nx.map(p => BigInt(p._1 - fts)).sum,
              nx.map(p => y100(p._2)).sum, BigInt(nx.size))
          } else (BigInt(pts.last._1 - fts), y100(pts.last._2), BigInt(1))
        var best = buckets(bi).head
        var bestA = BigInt(-1) // EXACT compare, mirroring the engine
        for (p <- buckets(bi)) {
          val dPx = BigInt(prev._1 - fts); val dpx = BigInt(p._1 - fts)
          val dPy = y100(prev._2); val dpy = y100(p._2)
          val score = ((dPx * cn - sxn) * (dpy - dPy) -
            (dPx - dpx) * (syn - cn * dPy)).abs
          if (score > bestA) { bestA = score; best = p }
        }
        sel += best
        prev = best
      }
      (sel += pts.last).toSeq
    }
    val rng = new scala.util.Random(7)
    // 2-decimal values: the data quantum the scaled score assumes (the
    // driver's events table is 2-decimal by construction)
    val series = (0 until 500).map(i =>
      (1700000000000000L + i * 1000000L + rng.nextInt(1000),
        rng.nextInt(10000) / 100.0))
    val df = series.zipWithIndex
      .map { case ((t, v), i) => ("cpu", t, i.toLong, v) }
      .toDF("event_type", "ts_us", "event_id", "value")
      .select(col("event_type"), timestamp_micros(col("ts_us")).as("ts"),
        col("event_id"), col("value"))
    val got = graft.operators.TimeSeries.lttb(df, 20)
      .orderBy("ts_us").collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val want = lttbRef(series.sortBy(_._1).toIndexedSeq, 20)
    assert(got.length == 20)
    assert(got == want)
    // endpoints always survive
    assert(got.head == want.head && got.last == want.last)
    // short series: unchanged (multiset)
    val shortDf = df.limit(15)
    val round = graft.operators.TimeSeries.lttb(shortDf, 20).count()
    assert(round == 15)
  }

  test("lttb time-bucket path: bursty huge series skip the rank sort, match " +
      "an exact sequential time-bucket reference, normal path unchanged") {
    import spark.implicits._
    // sequential reference of the TIME-bucket variant: bucket by time
    // fraction (clamped), dense-renumber present buckets, then the same
    // exact scaled-score walk
    def lttbTimeRef(pts: IndexedSeq[(Long, Double)], nOut: Int): Seq[(Long, Double)] = {
      val n = pts.length
      if (n <= nOut) return pts
      val fts = pts.head._1; val lts = pts.last._1
      def y100(v: Double): BigInt = BigInt(math.round(v * 100))
      val mid = pts.slice(1, n - 1)
      def bucketOf(p: (Long, Double)): Int =
        math.min((((p._1 - fts) * (nOut - 2)) / (lts - fts)).toInt, nOut - 3)
      val present = mid.map(bucketOf).distinct.sorted
      val buckets = present.map(b => mid.filter(p => bucketOf(p) == b))
      var prev = pts.head
      val sel = scala.collection.mutable.Buffer(pts.head)
      for (bi <- buckets.indices) {
        val (sxn, syn, cn) =
          if (bi + 1 < buckets.length) {
            val nx = buckets(bi + 1)
            (nx.map(p => BigInt(p._1 - fts)).sum,
              nx.map(p => y100(p._2)).sum, BigInt(nx.size))
          } else (BigInt(pts.last._1 - fts), y100(pts.last._2), BigInt(1))
        var best = buckets(bi).head
        var bestA = BigInt(-1) // EXACT compare, mirroring the engine
        for (p <- buckets(bi)) {
          val dPx = BigInt(prev._1 - fts); val dpx = BigInt(p._1 - fts)
          val dPy = y100(prev._2); val dpy = y100(p._2)
          val score = ((dPx * cn - sxn) * (dpy - dPy) -
            (dPx - dpx) * (syn - cn * dPy)).abs
          if (score > bestA) { bestA = score; best = p }
        }
        sel += best
        prev = best
      }
      (sel += pts.last).toSeq
    }
    val rng = new scala.util.Random(11)
    // bursty: 2500 points in a 2.5s dense burst, then 500 hourly points —
    // time buckets are wildly uneven (most land in bucket 0)
    val hot = (0 until 2500).map(i =>
        (1700000000000000L + i * 1000L, rng.nextInt(10000) / 100.0)) ++
      (0 until 500).map(i =>
        (1700000002500000L + i.toLong * 3600L * 1000000L, rng.nextInt(10000) / 100.0))
    val hotRows = hot.zipWithIndex.map { case ((t, v), i) => ("hot", t, i.toLong, v) }
    val coldRows = (0 until 15).map(i =>
      ("cold", 1700000000000000L + i * 1000000L, (10000 + i).toLong,
        rng.nextInt(10000) / 100.0))
    val df = rng.shuffle(hotRows ++ coldRows)
      .toDF("event_type", "ts_us", "event_id", "value")
      .select(col("event_type"), timestamp_micros(col("ts_us")).as("ts"),
        col("event_id"), col("value"))
    val got = graft.operators.TimeSeries.lttb(df, 20, timeBucketMinRows = 1000)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // cold (≤ nOut): unchanged passthrough
    assert(got.count(_._1 == "cold") == 15)
    // hot: exact agreement with the sequential time-bucket walk
    val hotGot = got.filter(_._1 == "hot").map(t => (t._2, t._3)).sortBy(_._1).toSeq
    val want = lttbTimeRef(hot.toIndexedSeq, 20)
    assert(hotGot == want.sortBy(_._1))
    assert(hotGot.head == hot.head && hotGot.last == hot.last)
    // a threshold the series does NOT exceed keeps the rank path bit-equal
    val rankA = graft.operators.TimeSeries.lttb(df, 20)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val rankB = graft.operators.TimeSeries.lttb(df, 20, timeBucketMinRows = 100000)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(rankA == rankB)
  }

  test("LttbHullFilter keeps every point that can win any bucket argmax: " +
      "random functionals, duplicate timestamps, collinear runs, dup points") {
    import org.apache.spark.sql.GraftColumnBridge
    import spark.implicits._
    // The walk's score is |linear functional of (xd, yd)| with first-wins
    // ties over the (ts, event_id) array order; the filter claims the
    // first-max point survives for EVERY functional. Brute-force it:
    // small coordinate grids force duplicate ts, duplicate positions and
    // collinear stretches (the tie-heavy cases), then 300 random affine
    // functionals per set check the winner is still in the filtered list.
    val rng = new scala.util.Random(13)
    for (_ <- 0 until 25) {
      val n = 3 + rng.nextInt(50)
      val pts = (0 until n).map { i =>
        (1000L + rng.nextInt(12), i.toLong, rng.nextInt(9) / 100.0)
      }.sortBy(p => (p._1, p._2))
      val df = pts.toDF("ts_us", "event_id", "value")
        .agg(sort_array(collect_list(struct(col("ts_us"), col("event_id"),
          col("value"), col("ts_us").cast("decimal(38,0)").as("xd"),
          round(col("value") * 100).cast("decimal(38,0)").as("yd")))).as("pts"))
      val r = df.select(col("pts"), GraftColumnBridge.column(
        graft.functions.LttbHullFilter(
          GraftColumnBridge.expression(col("pts")))).as("kept")).head()
      def parse(i: Int) = r.getSeq[org.apache.spark.sql.Row](i).map(x =>
        (x.getLong(0), x.getLong(1),
          BigInt(x.getDecimal(3).toBigInteger),
          BigInt(x.getDecimal(4).toBigInteger)))
      val all = parse(0)
      val kept = parse(1)
      // kept must be an ordered subsequence including the first element
      assert(kept.head == all.head, "global first element must survive")
      val keyOrder = all.map(p => (p._1, p._2))
      assert(kept.map(p => (p._1, p._2)).sorted ==
        kept.map(p => (p._1, p._2)), "original order must be preserved")
      assert(kept.forall(all.contains), "kept must be a subset")
      val keptKeys = kept.map(p => (p._1, p._2)).toSet
      for (_ <- 0 until 300) {
        val a = BigInt(rng.nextInt(2001) - 1000)
        val b = BigInt(rng.nextInt(2001) - 1000)
        val c = BigInt(rng.nextInt(20001) - 10000)
        def score(p: (Long, Long, BigInt, BigInt)): BigInt =
          (b * p._3 + a * p._4 + c).abs
        val max = all.map(score).max
        val winner = all.find(p => score(p) == max).get
        assert(keptKeys.contains((winner._1, winner._2)),
          s"winner $winner (|${b}x+${a}y+$c|) dropped; kept=$keptKeys " +
            s"all=${all.map(p => (p._1, p._2, p._3, p._4))}")
      }
      assert(keyOrder.toSet.subsetOf(all.map(p => (p._1, p._2)).toSet))
    }
  }

  test("chunking covers every token: stride starts, bounded sizes, full tail") {
    // assert against the SAME parameters the declared query uses (pinned
    // here so a drive-by constant change forces this spec to be revisited)
    val (chunkTokens, overlap) = (32, 8)
    val stride = chunkTokens - overlap
    val ch = graft.functions.TextAnalysis.chunkDocs(
      graft.sources.Tables.documents(spark, sf0001), chunkTokens, overlap)
    assert(ch.filter(col("start_tok") =!= col("chunk_id") * stride).count() == 0)
    assert(ch.filter(col("n_chunk_tokens") < 1 ||
      col("n_chunk_tokens") > chunkTokens).count() == 0)
    // the last chunk of each doc reaches the document's final token
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
    val lastCover = ch.groupBy("doc_id")
      .agg(max(col("start_tok") + col("n_chunk_tokens")).as("covered"))
      .join(docs, "doc_id")
    assert(lastCover.filter(col("covered") =!= col("n")).count() == 0)
    // no redundant tails: every non-first chunk must contribute tokens
    // beyond its predecessor's end, i.e. hold more than `overlap` tokens
    assert(ch.filter(col("chunk_id") > 0 &&
      col("n_chunk_tokens") <= overlap).count() == 0)
  }

  test("packing: offsets are contiguous per bucket and pack ids match offsets") {
    val p = SparkEntry.queries("q_pack_sequences")(spark, sf0001)
    // within a bucket the documents tile the token stream with no gaps
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("bucket")).orderBy(col("start_off"))
    val gaps = p
      .withColumn("prev_end", lag(col("start_off") + col("n_tokens"), 1).over(w))
      .filter(col("prev_end").isNotNull && col("start_off") =!= col("prev_end"))
    assert(gaps.count() == 0)
    assert(p.filter(col("pack_id") =!=
      graft.model.floorDivCol(col("start_off"), 512L)).count() == 0)
  }

  test("split leakage counts the planted cross-id duplicates") {
    val n = SparkEntry.queries("q_split_leakage")(spark, sf0001)
      .head().getAs[Long]("n_leaked_hashes")
    // the doubled corpus plants one duplicate per doc under a different id;
    // id-keyed splitting then leaks SOME of them across splits (all 100
    // agreeing by chance is ~0), and never more than the distinct texts
    val distinctTexts = graft.sources.Tables.documents(spark, sf0001)
      .select("text").distinct().count()
    assert(n > 0 && n <= distinctTexts, s"n_leaked=$n distinct=$distinctTexts")
  }

  test("profile: count relationships hold per column") {
    val p = SparkEntry.queries("q_profile")(spark, sf0001).collect()
    assert(p.length == 3)
    p.foreach { r =>
      assert(r.getAs[Long]("n_nonnull") <= r.getAs[Long]("n_rows"))
      assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_nonnull"))
      assert(r.getAs[String]("min_str") <= r.getAs[String]("max_str") ||
        r.getAs[String]("col_name") == "n_chars") // numeric min/max, string-rendered
    }
  }

  test("bucketed interval join equals the brute-force theta join on random inputs") {
    import spark.implicits._
    val rng = new scala.util.Random(37)
    (1 to 3).foreach { round =>
      // window 10: random ts cluster around bucket boundaries to stress the
      // explode-into-2-buckets logic (boundary rows, exact-window matches)
      val w = 10L
      val l = (1 to 50).map(i =>
        (1L + rng.nextInt(3), (rng.nextInt(8) * 5 + rng.nextInt(3)).toLong, i.toLong))
      val r = (1 to 50).map(j =>
        (1L + rng.nextInt(3), (rng.nextInt(8) * 5 + rng.nextInt(3)).toLong, j * 1.0))
      val gotSet = graft.operators.RangeJoin.intervalJoin(
        l.toDF("key", "lts", "lid"), r.toDF("key", "rts", "rv"),
        key = "key", leftTs = "lts", rightTs = "rts", windowUs = w)
        .select("lid", "rts", "rv").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
      val want = (for {
        (lk, lts, lid) <- l
        (rk, rts, rv) <- r
        if lk == rk && rts >= lts && rts <= lts + w
      } yield (lid, rts, rv)).toSet
      assert(gotSet == want, s"round $round")
    }
  }

  test("mergeIntervals equals a brute-force sweep on random inputs") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    (1 to 3).foreach { round =>
      val ivs = (1 to 80).map { _ =>
        val s = rng.nextInt(50).toLong
        (1L + rng.nextInt(3), s, s + 1 + rng.nextInt(10))
      }
      val got = graft.operators.Relational.mergeIntervals(
        ivs.toDF("key", "start_us", "end_us"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // brute force: per key, sort by (start, end) and sweep
      val want = ivs.groupBy(_._1).flatMap { case (k, ks) =>
        val sorted = ks.map(t => (t._2, t._3)).sorted
        val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        sorted.foreach { case (s, e) =>
          if (merged.nonEmpty && s <= merged.last._2) {
            val (ms, me, n) = merged.last
            merged(merged.length - 1) = (ms, math.max(me, e), n + 1)
          } else merged += ((s, e, 1L))
        }
        merged.map { case (s, e, n) => (k, s, e, n) }
      }.toSet
      assert(got == want, s"round $round")
    }
  }

  test("merged intervals are disjoint (non-touching) and ordered per key") {
    val m = SparkEntry.queries("q_merge_intervals")(spark, sf0001)
    // within a key, every interval must start strictly after the previous
    // interval's end — otherwise the merge missed an overlap
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("key")).orderBy(col("interval_start_us"))
    val bad = m
      .withColumn("prev_end", lag(col("interval_end_us"), 1).over(w))
      .filter(col("prev_end").isNotNull && col("interval_start_us") <= col("prev_end"))
    assert(bad.count() == 0)
    assert(m.filter(col("interval_end_us") <= col("interval_start_us")).count() == 0)
    assert(m.count() > 0)
  }

  test("orderRanks arithmetic equals the window-function formulation on random data") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rng = new scala.util.Random(13)
    // random prices with deliberate duplicates; orderkey unique
    val rows = (1 to 500).map(i => (i.toLong, (rng.nextInt(40) * 25).toDouble))
    val df = rows.toDF("o_orderkey", "o_totalprice")
    val got = graft.operators.Relational.orderRanks(df, 100)
    val w = Window.orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val want = df
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .withColumn("prank", percent_rank().over(w))
      .withColumn("cdist", cume_dist().over(w))
      .withColumn("tile", ntile(4).over(w).cast("long"))
      .filter(col("rnk") <= 100)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "arithmetic ranking must equal the window formulation")
  }

  test("an unknown query name fails loudly, listing the valid names") {
    val e = intercept[IllegalArgumentException](SparkEntry.query("q_nope"))
    assert(e.getMessage.startsWith("unknown query q_nope; valid names: "))
    assert(e.getMessage.contains("q_range_scan"))
  }

  test("hot scan queries stay inside WholeStageCodegen (regression net)") {
    OperatorInvariantsSpec.assertWholeStageCodegen(spark, sf0001)
  }

  test("triangle closing-edge probe stays a shuffled-hash semi join " +
      "(regression net)") {
    // the wedge side is O(|E|^1.5) rows: sort-merge would sort it
    // (4x slower at sf0.1) and a broadcast would die when |E| outgrows
    // the driver — the shuffle_hash hint must keep winning
    val df = SparkEntry.queries("q_triangles")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") && plan.contains("LeftSemi"),
      s"closing-edge probe lost its shuffled-hash shape:\n$plan")
  }

  test("no CartesianProduct anywhere in the declared surface (regression net)") {
    // every cross join in the engine is a broadcast of a bounded side
    // (single query row, scalar count, band table) — a TRUE cartesian
    // product appearing in any plan is a scale regression
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sf0001).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plans a CartesianProduct")
    }
  }

  test("scale-variant dims broadcast via size stats (no forced hint needed)") {
    // customer/supplier carry no broadcast() hint (they grow with scale
    // factor); at bench scale Catalyst must still CHOOSE broadcast from
    // parquet size statistics — at 100× the same plan degrades to a
    // shuffled join instead of OOMing the driver
    Seq("q_join_segment_revenue", "q_star_join_region", "q_topk_per_group")
      .foreach { q =>
        val df = SparkEntry.queries(q)(spark, sf0001)
        df.collect()
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("BroadcastHashJoin"), s"$q plan:\n$plan")
      }
  }

  test("simhash near-dup pigeonhole bucketing is not a cartesian product") {
    val df = SparkEntry.queries("q_simhash_neardup")(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}

object OperatorInvariantsSpec {
  /** The per-row hot paths must be compiled, not interpreted — a custom
    * expression losing doGenCode or a UDF sneaking in breaks this. */
  def assertWholeStageCodegen(spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    Seq("q_range_scan", "q_similarity_topk", "q_simhash", "q_quality_score",
      "q_cumsum", "q_ohlc").foreach { q =>
      // codegen stages print as "*(n) Node" — but only in the FINAL
      // adaptive plan, so execute first
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("*("), s"$q lost whole-stage codegen:\n$plan")
    }
}
