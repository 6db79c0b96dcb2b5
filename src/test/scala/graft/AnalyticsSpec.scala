package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextAnalysis
import graft.operators.{Analytics, Dedup, Relational, Sampling}

/** Hand-computed cases for the analytics + pipeline-hygiene operators:
  * funnel ordering, histogram-quantile interpolation, PII scrubbing,
  * repetition scoring, contamination, weighted sampling. */
class AnalyticsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, String, Long)*) =
    // (user_id, event_type, t_seconds) -> events-shaped frame
    rows.toSeq.toDF("user_id", "event_type", "sec")
      .select(col("user_id"), col("event_type"),
        timestamp_micros(col("sec") * 1000000L).as("ts"),
        lit(1.0).as("value"))

  test("funnel admits stages only in order and within the horizon") {
    val events = ev(
      (1L, "view", 100L), (1L, "click", 200L), (1L, "purchase", 300L), // full
      (2L, "click", 50L), (2L, "view", 100L),                          // click BEFORE view: stops at view
      (3L, "view", 100L), (3L, "click", 99999L),                       // click past horizon
      (4L, "view", 100L), (4L, "click", 100L))                         // same-ts click admits (>=)
    val got = Analytics.funnel(events, Seq("view", "click", "purchase"),
        horizonUs = 1000L * 1000000L)
      .orderBy("stage_idx").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, "view", 4L), (2L, "click", 2L), (3L, "purchase", 1L)))
  }

  test("histogramQuantile interpolates inside the covering bucket") {
    // 10 observations of type a: 4 in (0,10], 6 in (10,20] -> p50 rank=5,
    // bucket (10,20] holds ranks 5..10: est = 10 + 10*(5-4)/6
    val events = (Seq.fill(4)(5.0) ++ Seq.fill(6)(15.0))
      .map(v => ("a", v)).toDF("event_type", "value")
    val got = Analytics.histogramQuantile(events, 0.5, Seq(10d, 20d)).collect()
    assert(got.length == 1)
    assert(got(0).getString(0) == "a" && got(0).getLong(1) == 10L)
    assert(math.abs(got(0).getDouble(2) - (10.0 + 10.0 * (5.0 - 4.0) / 6.0)) < 1e-12)
  }

  test("histogramQuantile interpolates from the configured bound across empty buckets") {
    // 10 obs at 0.5 and 10 at 300: rank 18 falls in the (200,500] bucket;
    // its lower edge must be the CONFIGURED 200 (Prometheus), not the
    // previous non-empty bucket's le=1 — that would place the estimate in
    // a range provably holding no observations
    val events = (Seq.fill(10)(0.5) ++ Seq.fill(10)(300.0))
      .map(v => ("a", v)).toDF("event_type", "value")
    val got = Analytics.histogramQuantile(events, 0.9,
      Seq(1d, 5d, 10d, 20d, 50d, 100d, 200d, 500d)).collect()(0)
    assert(got.getDouble(2) == 200.0 + (500.0 - 200.0) * (18.0 - 10.0) / 10.0,
      s"got ${got.getDouble(2)}, want 440.0")
  }

  test("histogramQuantile clamps to the last finite bound in the +Inf bucket") {
    // all mass above every bound -> quantile bucket is +Inf, answer = last bound
    val events = Seq(("a", 100.0), ("a", 200.0)).toDF("event_type", "value")
    val got = Analytics.histogramQuantile(events, 0.9, Seq(10d)).collect()
    assert(got(0).getDouble(2) == 10.0)
  }

  test("anomalyZScore flags exactly the constructed outlier hour") {
    // 10 quiet hours at 10.0 and one 1000.0 spike: z(spike) >> 3
    val events = ((0 until 10).map(h => (h, 10.0)) :+ (10, 1000.0))
      .toDF("hour", "value")
      .select(lit("a").as("event_type"),
        timestamp_micros(col("hour").cast("long") * 3600000000L).as("ts"),
        col("value"))
    val got = Analytics.anomalyZScore(events, 3.0).collect()
    assert(got.length == 1)
    assert(got(0).getAs[Double]("hourly_sum") == 1000.0)
  }

  test("histogramQuantile matches an independent scalar model on random data") {
    val rnd = new scala.util.Random(77)
    val bounds = Seq(1d, 5d, 10d, 20d, 50d)
    for (trial <- 1 to 6) {
      val vals = Seq.fill(80)(rnd.nextDouble() * 60.0)
      val phi = Seq(0.5, 0.9, 0.99)(trial % 3)
      def model: Double = {
        val les = bounds :+ Double.PositiveInfinity
        val cnts = les.map(b => vals.count(v =>
          v <= b && !bounds.exists(lo => lo < b && v <= lo)))
        val total = vals.size
        val rank = phi * total
        var cum = 0L
        val idx = les.indices.find { i => cum += cnts(i); cum >= rank }.get
        val prevCum = cum - cnts(idx)
        if (les(idx).isInfinity) bounds.last
        else {
          val lo = if (idx == 0) 0d else bounds(idx - 1)
          lo + (les(idx) - lo) * (phi * total - prevCum) / cnts(idx)
        }
      }
      val events = vals.map(("a", _)).toDF("event_type", "value")
      val got = Analytics.histogramQuantile(events, phi, bounds)
        .collect()(0).getDouble(2)
      assert(math.abs(got - model) < 1e-9, s"trial $trial phi=$phi: $got vs $model")
    }
  }

  test("bollingerBands: bands open after a full window, planted spike breaks out") {
    val rows = (0 until 30).map(h => (h, 10.0 + (h % 5))) :+ (30, 1000.0)
    val events = rows.toDF("hour", "value")
      .select(lit("a").as("event_type"),
        timestamp_micros(col("hour").cast("long") * 3600000000L).as("ts"),
        col("value"))
    val got = Analytics.bollingerBands(events, window = 24, k = 2.0)
      .orderBy("bucket_us").collect()
    assert(got.length == 31)
    // bands NULL until 24 buckets accumulated
    assert(got.take(23).forall(r => r.isNullAt(3) && r.isNullAt(4) && !r.getBoolean(5)))
    assert(!got(23).isNullAt(3) && !got(23).isNullAt(4))
    // exactly one breakout: the planted spike
    val breakouts = got.filter(_.getBoolean(5))
    assert(breakouts.length == 1 &&
      breakouts(0).getAs[Double]("hourly_sum") == 1000.0)
  }

  test("paretoCurve: a whale user concentrates share in the top decile") {
    // 10 users, one spends 90, nine spend 1 each -> with n=10 every user
    // is their own decile; cumulative share after decile 0 is 90/99
    val events = ((1 to 9).map(u => (u.toLong, 1.0)) :+ (10L, 90.0))
      .toDF("user_id", "value")
      .select(col("user_id"), lit("purchase").as("event_type"),
        timestamp_micros(col("user_id") * 1000000L).as("ts"), col("value"))
    val got = Analytics.paretoCurve(events, "purchase")
      .orderBy("decile").collect()
    assert(got.length == 10)
    assert(got(0).getLong(1) == 1L) // one user per decile
    assert(got(0).getAs[Double]("decile_value") == 90.0)
    assert(math.abs(got(0).getDouble(4) - 90.0 / 99.0) < 1e-12)
    assert(math.abs(got(9).getDouble(4) - 1.0) < 1e-12, "full curve ends at 1")
  }

  test("transitionMatrix: rows normalize to 1 and adjacency respects per-user time order") {
    val events = ev(
      (1L, "view", 100L), (1L, "click", 200L), (1L, "view", 300L),
      (2L, "view", 100L), (2L, "click", 200L),
      (3L, "click", 100L))                       // single event: no transition
      .withColumn("event_id", col("user_id") * 1000L + unix_micros(col("ts")))
    val got = Analytics.transitionMatrix(events).collect()
    // transitions: u1 view->click, click->view; u2 view->click  (u3 none)
    val asMap = got.map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getDouble(3))).toMap
    assert(asMap == Map(
      ("view", "click") -> (2L, 1.0),
      ("click", "view") -> (1L, 1.0)))
    // and on the real table every from-row's probabilities sum to 1
    val real = Analytics.transitionMatrix(
      graft.sources.Tables.events(spark, sf0001))
    val sums = real.groupBy("from_type").agg(sum(col("prob")).as("p")).collect()
    assert(sums.nonEmpty && sums.forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-9))
  }

  test("splitDrift: identical distributions give 0, disjoint give 1") {
    // cats split so that train gets only 'a' docs and val only 'b' docs:
    // engineer keys whose hash60 % 100 lands < 80 for a-block, 80-89 for b
    val docs = (0L until 400L).map(i => (i, if (i % 2 == 0) "x" else "y"))
      .toDF("doc_id", "source")
    val tv = Sampling.splitDrift(docs, "doc_id", "source", 80, 10)
      .head().getDouble(1)
    // same generator for both splits -> near-identical rates, tiny distance
    assert(tv >= 0.0 && tv <= 1.0)
    // disjoint: category equals the split bucket itself
    val skew = (0L until 400L).map(i => (i, "")).toDF("doc_id", "ignore")
      .select(col("doc_id"),
        when(pmod(graft.functions.TextAnalysis.tokHash(col("doc_id").cast("string")),
          lit(100L)) < 80, lit("trainish")).otherwise(lit("valish")).as("source"))
    val tv2 = Sampling.splitDrift(skew, "doc_id", "source", 80, 10)
      .head().getDouble(1)
    assert(math.abs(tv2 - 1.0) < 1e-12, s"disjoint TV=$tv2")
  }

  test("anomalyMad flags planted spikes even when multiple outliers inflate the variance") {
    // 20 quiet hours around 10 and TWO huge spikes: the spikes inflate the
    // stddev (masking effect) but not the median/MAD
    val rows = (0 until 20).map(h => (h, 10.0 + (h % 3))) ++
      Seq((20, 5000.0), (21, 8000.0))
    val events = rows.toDF("hour", "value")
      .select(lit("a").as("event_type"),
        timestamp_micros(col("hour").cast("long") * 3600000000L).as("ts"),
        col("value"))
    val got = Analytics.anomalyMad(events, 3.0).collect()
      .map(_.getAs[Double]("hourly_sum")).sorted.toSeq
    assert(got == Seq(5000.0, 8000.0), s"flagged: $got")
  }

  test("holtForecast equals the scalar level/trend recursion bit-for-bit") {
    val vals = Seq(10.0, 12.0, 11.0, 15.0, 14.0, 18.0)
    val events = vals.zipWithIndex.map { case (v, h) => (h, v) }
      .toDF("hour", "value")
      .select(lit("a").as("event_type"),
        timestamp_micros(col("hour").cast("long") * 3600000000L).as("ts"),
        col("value"))
    val (alpha, beta) = (0.5, 0.3)
    var (l, b) = (vals.head, 0.0)
    for (x <- vals.tail) {
      val nl = alpha * x + (1 - alpha) * (l + b)
      val nb = beta * ((alpha * x + (1 - alpha) * (l + b)) - l) + (1 - beta) * b
      l = nl; b = nb
    }
    val got = Analytics.holtForecast(events, alpha, beta, Seq(1, 24)).collect()(0)
    assert(got.getLong(1) == vals.size)
    assert(got.getDouble(2) == l, "level must match the scalar fold exactly")
    assert(got.getDouble(3) == b, "trend must match the scalar fold exactly")
    assert(got.getDouble(4) == l + 1 * b)
    assert(got.getDouble(5) == l + 24 * b)
  }

  test("holtForecast tracks a perfectly linear series") {
    // x_t = 5t: after warmup, level ≈ current value and trend ≈ 5, so the
    // h-step forecast continues the line
    val events = (0 until 200).map(h => (h, 5.0 * h)).toDF("hour", "value")
      .select(lit("a").as("event_type"),
        timestamp_micros(col("hour").cast("long") * 3600000000L).as("ts"),
        col("value"))
    val got = Analytics.holtForecast(events, 0.5, 0.3, Seq(24)).collect()(0)
    val forecast24 = got.getDouble(4)
    val expected = 5.0 * (199 + 24)
    assert(math.abs(forecast24 - expected) < 1.0,
      s"linear-series forecast $forecast24 should be near $expected")
  }

  test("piiScrub redacts emails (mixed case) and phones and counts them") {
    val docs = Seq((1L, "mail me at Jo.Doe@Example.COM or +1-555-123-4567 ok"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.piiScrub(docs).collect()(0)
    assert(got.getAs[Long]("n_emails") == 1L)
    assert(got.getAs[Long]("n_phones") == 1L)
    assert(got.getAs[String]("text") == "mail me at <EMAIL> or <PHONE> ok")
  }

  test("repetitionScore: all-same trigrams score high, unique ones zero") {
    val docs = Seq(
      (1L, "a a a a a a"),       // 4 trigrams, 1 distinct -> 0.75
      (2L, "w x y z"),           // 2 trigrams, 2 distinct -> 0.0
      (3L, "a b")).toDF("doc_id", "text") // too short -> 0 grams, ratio 0
    val got = TextAnalysis.repetitionScore(docs, 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == ((4L, 1L, 0.75)))
    assert(got(2L) == ((2L, 2L, 0.0)))
    assert(got(3L) == ((0L, 0L, 0.0)))
  }

  test("funnelLatency: integer-position quantiles of time-to-convert per stage") {
    // 3 converters with view->click latencies 10s, 20s, 30s; only the
    // first also purchases (at +100s from view)
    val events = ev(
      (1L, "view", 100L), (1L, "click", 110L), (1L, "purchase", 200L),
      (2L, "view", 100L), (2L, "click", 120L),
      (3L, "view", 100L), (3L, "click", 130L),
      (4L, "view", 100L)) // never converts
    val got = Analytics.funnelLatency(events, Seq("view", "click", "purchase"),
        horizonUs = 1000L * 1000000L)
      .orderBy("stage_idx").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // click: n=3, p50 position = (3*50+99) div 100 = 2 -> 20s; p90 pos 3 -> 30s
    // purchase: n=1, both positions 1 -> 100s
    assert(got.toSeq == Seq(
      (2L, "click", 3L, 20000000L, 30000000L),
      (3L, "purchase", 1L, 100000000L, 100000000L)))
  }

  test("corrMatrix: constructed series correlate +1, -1, and NULL on zero variance") {
    // hourly sums per type: a rises 1..4, b = 2*a (r=+1), c = 10-a (r=-1),
    // d constant (zero variance -> NULL)
    val events = (for (h <- 1 to 4) yield Seq(
      ("a", h, h.toDouble), ("b", h, 2.0 * h), ("c", h, 10.0 - h),
      ("d", h, 5.0))).flatten
      .toDF("event_type", "hour", "value")
      .select(col("event_type"),
        timestamp_micros(col("hour").cast("long") * 3600000000L).as("ts"),
        col("value"))
    val got = Analytics.corrMatrix(events).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // sqrt rounds (the engine-exactness claim is cross-ENGINE bit
    // equality, not closed-form exactness) — compare with tolerance
    assert(math.abs(got(("a", "b")).get - 1.0) < 1e-12)
    assert(math.abs(got(("a", "c")).get + 1.0) < 1e-12)
    assert(got(("a", "d")) == None)
    assert(got.size == 6)
  }

  test("userLift: co-occurring types lift above 1, independent at 1") {
    // 4 users: a∧b together for 2 users, a alone 1, b alone 1 ->
    // n_a=3, n_b=3, n_ab=2, N=4: lift = 2*4/9
    val events = ev(
      (1L, "a", 1L), (1L, "b", 2L),
      (2L, "a", 1L), (2L, "b", 2L),
      (3L, "a", 1L), (4L, "b", 1L))
    val got = Analytics.userLift(events).collect()
    assert(got.length == 1)
    val r = got(0)
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((2L, 3L, 3L)))
    assert(r.getDouble(5) == 8.0 / 9.0)
  }

  test("charDiversity: uniform chars score high, one-char floods zero") {
    val docs = Seq(
      (1L, "aaaa"),   // 1 distinct char -> 1 - 16/16 = 0
      (2L, "abcd"),   // 4 distinct, each once -> 1 - 4/16 = 0.75
      (3L, "aabb")    // 2 distinct, twice each -> 1 - 8/16 = 0.5
    ).toDF("doc_id", "text")
    val got = TextAnalysis.charDiversity(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L) == ((4L, 0.0)))
    assert(got(2L) == ((4L, 0.75)))
    assert(got(3L) == ((4L, 0.5)))
  }

  test("trimmedMeanByType drops exactly the rank-band outliers") {
    // 20 rows: 18 ones plus two huge outliers; the [5,95] band keeps
    // ranks 2..19 = the outlier at rank 20 and the row at rank 1 go
    val events = ((1 to 18).map(i => (i.toLong, 1.0)) ++
        Seq((19L, 1000.0), (20L, 2000.0)))
      .toDF("event_id", "value")
      .select(lit("a").as("event_type"),
        timestamp_micros(col("event_id") * 1000000L).as("ts"),
        col("event_id"), col("value"))
    val got = operators.Relational.trimmedMeanByType(events, 5, 95).collect()
    assert(got.length == 1)
    // positions: lo = (20*5+99) div 100 = 1, hi = (20*95+99) div 100 = 19
    // kept ranks 2..19 = 17 ones + the 1000 outlier
    assert(got(0).getLong(1) == 18L)
    assert(got(0).getDouble(2) == (17.0 + 1000.0) / 18.0)
    // a tighter band drops both outliers entirely
    val tight = operators.Relational.trimmedMeanByType(events, 5, 90).collect()
    // hi = (20*90+99) div 100 = 18 -> kept ranks 2..18, all ones
    assert(tight(0).getDouble(2) == 1.0)
  }

  test("contaminatedDocs flags only train docs sharing an n-gram with eval") {
    val train = Seq(
      (1L, "the quick brown fox jumps"),   // shares 'quick brown fox' trigram
      (2L, "entirely different words here")).toDF("doc_id", "text")
    val eval = Seq((100L, "a quick brown fox runs")).toDF("doc_id", "text")
    val got = Dedup.contaminatedDocs(train, eval, n = 3)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L))
  }

  test("weightedPrioritySample is deterministic and favors heavy rows") {
    val docs = (1L to 100L).map(i => (i, if (i <= 10) 10000L else 1L))
      .toDF("doc_id", "n_chars")
    val got = Sampling.weightedPrioritySample(docs, "doc_id", "n_chars", 10)
      .collect().map(_.getLong(0)).toSeq
    // rerun: identical rows in identical order
    val again = Sampling.weightedPrioritySample(docs, "doc_id", "n_chars", 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == again)
    // the 10 heavy rows have 10000x the weight -> expect most of the top-10
    assert(got.count(_ <= 10L) >= 7, s"heavy rows under-sampled: $got")
  }

  test("funnel matches a brute-force model on randomized event sets") {
    val stages = Seq("s0", "s1", "s2")
    val horizon = 50L * 1000000L
    def brute(rows: Seq[(Long, String, Long)]): Seq[Long] = {
      // per user: earliest stage0; then earliest stage-i event in
      // [t_prev, t_prev + horizon]; count survivors per stage
      val byUser = rows.groupBy(_._1)
      val reached = stages.indices.map { i =>
        byUser.count { case (_, evs) =>
          stages.take(i + 1).foldLeft(Option(Long.MinValue)) {
            case (Some(tPrev), st) =>
              val cands = evs.filter(e => e._2 == st &&
                e._3 * 1000000L >= tPrev &&
                (tPrev == Long.MinValue || e._3 * 1000000L <= tPrev + horizon))
                .map(_._3 * 1000000L)
              if (cands.isEmpty) None else Some(cands.min)
            case (None, _) => None
          }.isDefined
        }.toLong
      }
      reached
    }
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 8) {
      val rows = Seq.fill(60)((
        rnd.nextInt(6).toLong + 1L,
        ("s" + rnd.nextInt(4)): String, // s3 = noise type
        rnd.nextInt(200).toLong))
      val got = Analytics.funnel(ev(rows: _*), stages, horizon)
        .orderBy("stage_idx").collect().map(_.getLong(2)).toSeq
      assert(got == brute(rows), s"trial $trial: $got vs ${brute(rows)}\n$rows")
    }
  }

  test("percentile_approx sketch stays near the exact quantile") {
    // completes the sketch family (CMS: frequency, HLL: distinct,
    // this: quantiles) — 10k uniform values, p50/p99 within 2% relative
    val vals = (1 to 10000).map(_.toDouble).toDF("v")
    val r = vals.agg(
      percentile_approx(col("v"), lit(0.5), lit(1000)),
      percentile_approx(col("v"), lit(0.99), lit(1000))).collect()(0)
    assert(math.abs(r.getDouble(0) - 5000.0) / 5000.0 < 0.02, r.toString)
    assert(math.abs(r.getDouble(1) - 9900.0) / 9900.0 < 0.02, r.toString)
  }

  test("AQE splits a skewed join partition (skew=true in the final plan)") {
    // one hot key owning ~100k rows against a uniform build side; with
    // aggressive skew thresholds AQE must rewrite the sort-merge join's
    // hot partition into split sub-partitions
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "20KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val skewed = spark.range(100000).selectExpr(
        "CASE WHEN id % 10 = 0 THEN 0 ELSE id END AS k", "id AS payload")
      val dim = spark.range(2000).selectExpr("id AS k", "id * 2 AS d")
      val joined = skewed.join(dim, "k")
      // materialize THIS query execution — AQE only finalizes (and
      // skew-splits) the plan of the job that actually ran
      assert(joined.collect().nonEmpty)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE skew-split in final plan:\n${plan.take(2000)}")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("approx_count_distinct (HLL) stays inside its error bound") {
    // 10k distinct ids, each duplicated 3x: the sketch must land within
    // 3x the default 5% rsd of the exact answer (sketch category of the
    // checklist alongside the CMS spec)
    val ids = (1 to 10000).flatMap(i => Seq(i, i, i)).toDF("id")
    val approx = ids.agg(approx_count_distinct(col("id"))).collect()(0).getLong(0)
    assert(math.abs(approx - 10000.0) / 10000.0 < 0.15,
      s"HLL estimate $approx outside 15% of 10000")
  }

  test("seasonalDecompose: components reconstruct exactly; pure seasonality absorbed") {
    // x(d,h) = 100 + 10*(h%4): no trend, a clean 4-hour seasonal pattern
    val events = (for (d <- 0 until 10; h <- 0 until 24)
      yield (d * 24 + h, 100.0 + 10.0 * (h % 4)))
      .toDF("hour", "value")
      .select(lit("a").as("event_type"),
        timestamp_micros(col("hour").cast("long") * 3600000000L).as("ts"),
        col("value"))
    val got = Analytics.seasonalDecompose(events).collect()
    val full = got.filter(r => !r.isNullAt(3) && !r.isNullAt(4))
    assert(full.nonEmpty)
    // identity: residual == observed - trend - seasonal, bit-for-bit
    assert(full.forall { r =>
      val s = r.getAs[Double]("hourly_sum")
      r.getDouble(5) == s - r.getDouble(3) - r.getDouble(4)
    })
    // the centered MA sees every phase equally -> residuals collapse
    assert(full.forall(r => math.abs(r.getDouble(5)) < 1e-9),
      s"max residual ${full.map(r => math.abs(r.getDouble(5))).max}")
  }

  test("cusum: argmax |cusum| locates a planted level shift; final cusum is zero") {
    // mean 10 for 50 hours, then mean 50: the cumulative deviation peaks
    // exactly at the last pre-shift bucket
    val events = ((0 until 50).map(h => (h, 10.0)) ++
      (50 until 100).map(h => (h, 50.0)))
      .toDF("hour", "value")
      .select(lit("a").as("event_type"),
        timestamp_micros(col("hour").cast("long") * 3600000000L).as("ts"),
        col("value"))
    val got = Analytics.cusum(events).orderBy("bucket_us").collect()
    val peak = got.maxBy(_.getDouble(4))
    assert(peak.getLong(1) == 49L * 3600000000L,
      s"peak at ${peak.getLong(1) / 3600000000L}, want 49")
    assert(got.last.getDouble(3) == 0.0,
      "total deviation from the mean must cancel exactly")
  }

  test("pageRank: uniform on a cycle, hub-heavy on a star, mass conserved") {
    import graft.operators.Graph
    // directed 4-cycle: symmetric, so every node keeps pr = 1/4 exactly
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val prC = Graph.pageRank(cycle, iters = 3, damping = 0.85)
      .collect().map(_.getDouble(1))
    assert(prC.forall(_ == 0.25), prC.toSeq.toString)
    // star: spokes all point at the hub (hub points back so nothing dangles)
    val star = (Seq((10L, 1L), (10L, 2L), (10L, 3L)) ++
      Seq(1L, 2L, 3L).map(s => (s, 10L))).toDF("src", "dst")
    val prS = Graph.pageRank(star, iters = 3, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(prS(10L) > prS(1L) && prS(1L) == prS(2L) && prS(2L) == prS(3L))
    // no dangling nodes -> total rank mass stays 1
    assert(math.abs(prS.values.sum - 1.0) < 1e-9)
    // the star is its own transpose: the symmetric fast path must agree
    // with the generic path node-for-node, bit-for-bit
    val prSym = Graph.pageRank(star, iters = 3, damping = 0.85, symmetric = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(prSym == prS, s"symmetric path diverged: $prSym vs $prS")
  }

  test("personalizedPageRank: teleport mass stays on the seed side, " +
      "disconnected nodes rank exactly zero") {
    import graft.operators.Graph
    // chain 2 -> 4 -> 6 -> 8 seeded at {2}, plus a disconnected edge
    // 100 -> 102 that the walk can never reach
    val g = Seq((2L, 4L), (4L, 6L), (6L, 8L), (100L, 102L)).toDF("src", "dst")
    val pr = Graph.personalizedPageRank(g, Seq(2L), iters = 3, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.keySet == Set(2L, 4L, 6L, 8L, 100L, 102L))
    // the seed has no in-edges: its rank is the teleport base exactly,
    // (1-d)/|S| = 0.15 (floor(1500e18/10000)/1e18 — both factors exact)
    assert(pr(2L) == 0.15, pr.toString)
    assert(pr(100L) == 0.0 && pr(102L) == 0.0, pr.toString)
    // every reachable node carries positive rank; total mass can only
    // leak (truncation + the dangling sink), never exceed 1
    assert(pr(4L) > 0 && pr(6L) > 0 && pr(8L) > 0)
    assert(pr.values.sum <= 1.0 + 1e-12, pr.values.sum.toString)
  }

  test("pageRank: no-in-edge nodes keep the constant base rank (generic " +
      "completion join) and an empty edge set yields an empty frame") {
    import graft.operators.Graph
    // chain 1 -> 2 -> 3: node 1 never receives a message, so after any
    // iteration pr(1) = (1-d)/3 exactly — the fixed-point recurrence gives
    // baseFx = floor(1500 * 1e18 / (10000 * 3)) = 5e16 -> 0.05
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val pr = Graph.pageRank(chain, iters = 3, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.keySet == Set(1L, 2L, 3L))
    assert(pr(1L) == 0.05, s"no-in-edge node drifted: ${pr(1L)}")
    // mass flows down the chain: the sink accumulates the most
    assert(pr(1L) < pr(2L) && pr(2L) < pr(3L), pr.toString)
    assert(Graph.pageRank(chain.limit(0), iters = 3, damping = 0.85)
      .collect().isEmpty)
  }

  test("bfsHops: shortest distance wins, hop cap truncates, early exit " +
      "past the diameter, disconnected components stay unreached") {
    import graft.operators.Graph
    // directed chain 1→2→3→4 plus a shortcut 1→3 and an island 100→102
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (100L, 102L))
      .toDF("src", "dst")
    val capped = Graph.bfsHops(g, Seq(1L), maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped == Map(1L -> 0L, 2L -> 1L, 3L -> 1L), capped.toString)
    // past the diameter: early exit, shortcut gives 3 its 1-hop distance
    val full = Graph.bfsHops(g, Seq(1L), maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L), full.toString)
    // multi-source: each node takes the NEAREST seed's distance; a seed
    // with no edges at all still reports itself at hop 0
    val multi = Graph.bfsHops(g, Seq(1L, 4L, 999L), maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(multi(4L) == 0L && multi(3L) == 1L && multi(999L) == 0L,
      multi.toString)
  }

  test("rollingCorr: +1 on linearly dependent series, -1 on inverted, " +
      "only full windows emit") {
    import graft.operators.TimeSeries
    val hr = 3600000000L
    // click = i+1, view = 2(i+1) over hours 0..3 → perfectly correlated
    val rows = (0 to 3).flatMap { i =>
      Seq((i * hr, i * 10L + 1, (i + 1).toDouble, "click"),
        (i * hr, i * 10L + 2, 2.0 * (i + 1), "view"))
    }
    val ev = rows.toDF("ts_us", "event_id", "value", "event_type")
      .select(timestamp_micros(col("ts_us")).as("ts"), col("event_id"),
        col("value"), col("event_type"))
    val got = TimeSeries.rollingCorr(ev, "click", "view", 3)
      .orderBy(col("bucket_us")).collect()
    assert(got.length == 2) // hours 0,1 lack a full 3-bucket window
    got.foreach(r => assert(math.abs(r.getAs[Double]("rolling_r") - 1.0) < 1e-12))
    // inverted view: 10 - (i+1) → perfect anti-correlation
    val inv = (0 to 3).flatMap { i =>
      Seq((i * hr, i * 10L + 1, (i + 1).toDouble, "click"),
        (i * hr, i * 10L + 2, 10.0 - (i + 1), "view"))
    }.toDF("ts_us", "event_id", "value", "event_type")
      .select(timestamp_micros(col("ts_us")).as("ts"), col("event_id"),
        col("value"), col("event_type"))
    TimeSeries.rollingCorr(inv, "click", "view", 3).collect()
      .foreach(r => assert(math.abs(r.getAs[Double]("rolling_r") + 1.0) < 1e-12))
  }

  test("rollingCorr multi-pair: partitioned window matches per-pair " +
      "single calls bit-for-bit, absent side is exact zero") {
    import graft.operators.TimeSeries
    val hr = 3600000000L
    // click/view over hours 0..4; purchase only on hours 1..4 (view
    // absent at hour 0 for the purchase/view pair → x=..., y=0 path)
    val rows = (0 to 4).flatMap { i =>
      Seq((i * hr, i * 10L + 1, (i + 1).toDouble, "click"),
        (i * hr, i * 10L + 2, 3.0 * (i + 1) + 0.25, "view")) ++
        (if (i >= 1) Seq((i * hr, i * 10L + 3, 7.0 - i, "purchase")) else Nil)
    }
    val ev = rows.toDF("ts_us", "event_id", "value", "event_type")
      .select(timestamp_micros(col("ts_us")).as("ts"), col("event_id"),
        col("value"), col("event_type"))
    val pairs = Seq(("click", "view"), ("purchase", "view"))
    val multi = TimeSeries.rollingCorr(ev, pairs, 3)
      .collect()
      .map(r => ((r.getString(0), r.getString(1), r.getLong(2)),
        r.getDouble(3))).toMap
    val singles = pairs.flatMap { case (a, b) =>
      TimeSeries.rollingCorr(ev, a, b, 3).collect()
        .map(r => ((a, b, r.getLong(0)), r.getDouble(1)))
    }.toMap
    assert(multi == singles, s"$multi vs $singles")
    // purchase series spans hours 1..4 but the pair frame includes hour 0
    // (view present there, purchase side = exact 0) → first full 3-window
    // for purchase/view ends at hour 2
    assert(multi.keySet.filter(_._1 == "purchase").map(_._3) ==
      Set(2 * hr, 3 * hr, 4 * hr))
  }

  test("alertFor: only runs >= forHours fire, gaps split islands, " +
      "mean == threshold is NOT a breach (strict, exact decimal)") {
    import graft.operators.TimeSeries
    val hr = 3600000000L
    // type a: breach hours 0,1,2 (fires), gap at 3, breach 5,6 (too short)
    // type b: hour 0 mean EXACTLY 60.00 -> strict > excludes it
    val rows = Seq(
      (0L * hr, 1L, 100.0, "a"), (1L * hr, 2L, 100.0, "a"),
      (2L * hr, 3L, 100.0, "a"), (3L * hr, 4L, 1.0, "a"),
      (5L * hr, 5L, 100.0, "a"), (6L * hr, 6L, 100.0, "a"),
      (0L * hr, 7L, 60.0, "b"), (0L * hr + 1L, 8L, 60.0, "b"))
    val ev = rows.toDF("ts_us", "event_id", "value", "event_type")
      .select(timestamp_micros(col("ts_us")).as("ts"), col("event_id"),
        col("value"), col("event_type"))
    val got = TimeSeries.alertFor(ev, 6000L, 3).collect()
    assert(got.length == 1, got.mkString(";"))
    val e = got.head
    assert(e.getAs[String]("event_type") == "a")
    assert(e.getAs[Long]("alert_start_us") == 0L)
    assert(e.getAs[Long]("alert_end_us") == 2L * hr)
    assert(e.getAs[Long]("n_hours") == 3L)
    assert(e.getAs[Double]("peak_mean") == 100.0)
  }

  test("m4 downsample: exact first/last/min/max per pixel bucket, " +
      "deterministic tie-breaks, bucket arithmetic") {
    import graft.operators.TimeSeries
    // 4 samples spanning [0, 4) s → w=2 pixels of 2 s each; values chosen
    // so min/max differ from first/last in bucket 0, and bucket 1 has a
    // VALUE TIE (5.0 at t=2 and t=3 → max_by key (v,t,e) picks t=3)
    val rows = Seq( // (ts_us, event_id, value, type)
      (0L, 1L, 3.0, "a"), (500000L, 2L, 9.0, "a"), (1000000L, 3L, 1.0, "a"),
      (1500000L, 4L, 4.0, "a"),
      (2000000L, 5L, 5.0, "a"), (3000000L, 6L, 5.0, "a"))
    val ev = rows.toDF("ts_us", "event_id", "value", "event_type")
      .select(timestamp_micros(col("ts_us")).as("ts"), col("event_id"),
        col("value"), col("event_type"))
    val got = TimeSeries.m4(ev, 2).orderBy(col("bucket")).collect()
    assert(got.length == 2)
    val b0 = got(0)
    assert(b0.getAs[Long]("bucket") == 0L && b0.getAs[Long]("n_points") == 4L)
    assert(b0.getAs[Long]("t_first") == 0L && b0.getAs[Double]("v_first") == 3.0)
    assert(b0.getAs[Long]("t_last") == 1500000L && b0.getAs[Double]("v_last") == 4.0)
    assert(b0.getAs[Long]("t_min") == 1000000L && b0.getAs[Double]("v_min") == 1.0)
    assert(b0.getAs[Long]("t_max") == 500000L && b0.getAs[Double]("v_max") == 9.0)
    val b1 = got(1)
    assert(b1.getAs[Long]("bucket") == 1L && b1.getAs[Long]("n_points") == 2L)
    // value tie at 5.0: max_by key (value, ts, event_id) takes the LATER
    // sample; min_by takes the earlier
    assert(b1.getAs[Long]("t_max") == 3000000L)
    assert(b1.getAs[Long]("t_min") == 2000000L)
  }

  test("harmonicCentrality: exact x60 reciprocals on a path, hop cap, " +
      "seed self-distance excluded, topK tie order") {
    import graft.operators.Graph
    // undirected path 1–2–3–4–5 (both directions supplied)
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val g = (und ++ und.map(_.swap)).toDF("src", "dst")
    val h = Graph.harmonicCentrality(g, Seq(1L), maxHops = 6, topK = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // d(1,·) = 1,2,3,4 → 60,30,20,15; the seed itself (d=0) is excluded
    assert(h == Map(2L -> 60L, 3L -> 30L, 4L -> 20L, 5L -> 15L), h.toString)
    // hop cap truncates the reachable set, scores unchanged inside it
    val capped = Graph.harmonicCentrality(g, Seq(1L), maxHops = 2, topK = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped == Map(2L -> 60L, 3L -> 30L), capped.toString)
    // two seeds: node 3 is 2 hops from both ends → 30 + 30, and
    // n_seeds_reached counts contributing seeds
    val two = Graph.harmonicCentrality(g, Seq(1L, 5L), maxHops = 6, topK = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(two(3L) == ((60L, 2L)), two.toString)
    assert(two(2L) == ((60L + 20L, 2L)), two.toString)
  }

  test("triangleStats: exact census on known graphs (pendant triangle, " +
      "complete K4)") {
    import graft.operators.Graph
    // triangle {1,2,3} with a pendant edge 3–4: T=1, W=ΣC(deg,2)=5
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val r = Graph.triangleStats(g).collect().head
    assert(r.getLong(0) == 1L && r.getLong(1) == 5L, r.toString)
    assert(r.getDouble(2) == 3.0 / 5.0, r.toString)
    // K4: every wedge closes — T=4, W=12, clustering exactly 1
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
      .toDF("u", "v")
    val rk = Graph.triangleStats(k4).collect().head
    assert(rk.getLong(0) == 4L && rk.getLong(1) == 12L &&
      rk.getDouble(2) == 1.0, rk.toString)
  }

  test("kCore: cascading peel reaches the true core, early exit past the " +
      "fixed point, round cap truncates mid-cascade") {
    import graft.operators.Graph
    // K4 {1,2,3,4} with a pendant chain 4–5–6: the 3-core is exactly K4,
    // but the chain peels one node per round (6 first, then 5)
    val pairs = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
      .toDF("u", "v").unionByName(Seq((4L, 5L), (5L, 6L)).toDF("u", "v"))
    val g = Graph.symmetricEdges(pairs)
    val core = Graph.kCore(g, k = 3, maxRounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), core.toString)
    // k=2 chain cascade needs two rounds; capping at 1 leaves node 5
    // (deg 1 after round 1) still in the edge set — capped semantics
    val cap1 = Graph.kCore(g, k = 2, maxRounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cap1.contains(5L) && cap1(5L) == 1L && !cap1.contains(6L),
      cap1.toString)
    val conv = Graph.kCore(g, k = 2, maxRounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(conv == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), conv.toString)
    // k above the max degree: everything peels, empty frame
    assert(Graph.kCore(g, k = 10, maxRounds = 5).collect().isEmpty)
  }

  test("resourceAllocation: exact RA weights, rarity beats raw count, " +
      "degree cap drops hyper-connected neighbors") {
    import graft.operators.Graph
    // z1:{1,2} z2:{1,2,3} z3:{2,3} — wfx(z1)=wfx(z3)=5e11, wfx(z2)=3.3e11
    val inter = Seq((10L, 1L), (10L, 2L), (20L, 1L), (20L, 2L), (20L, 3L),
      (30L, 2L), (30L, 3L)).toDF("z", "s")
    val got = Graph.resourceAllocation(inter, maxDegree = 1000, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == 3, got.toSeq.toString)
    // (1,2) and (2,3) tie on ra_fx = 5e11 + 333333333333; (1,3) trails
    assert(got(0) == (1L, 2L, 2L, 0.833333333333) &&
      got(1) == (2L, 3L, 2L, 0.833333333333) &&
      got(2) == (1L, 3L, 1L, 0.333333333333), got.toSeq.toString)
    // cap at 2 drops z2 entirely: (1,3) vanishes, survivors keep only
    // their rare-neighbor mass
    val capped = Graph.resourceAllocation(inter, maxDegree = 2, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(capped.toSeq == Seq((1L, 2L, 1L, 0.5), (2L, 3L, 1L, 0.5)),
      capped.toSeq.toString)
  }

  test("sessionPaths: gap splits sessions, prefix truncates at depth, " +
      "short sessions keep their full path") {
    import java.sql.Timestamp
    def t(min: Long) = new Timestamp(min * 60000L)
    // user 1: one 4-event session (prefix truncates to 3) then, after a
    // 40-min gap, a 2-event session; user 2: a single 1-event session
    val events = Seq(
      (1L, 10L, "a", t(0)), (1L, 11L, "b", t(1)), (1L, 12L, "c", t(2)),
      (1L, 13L, "d", t(3)),
      (1L, 14L, "a", t(50)), (1L, 15L, "b", t(51)),
      (2L, 20L, "a", t(0))
    ).toDF("user_id", "event_id", "event_type", "ts")
    val got = Analytics.sessionPaths(events, gapUs = 1800000000L,
      depth = 3, topK = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(got.toSeq == Seq("a" -> 1L, "a>b" -> 1L, "a>b>c" -> 1L),
      got.toSeq.toString)
    // simultaneous timestamps: event_id breaks the tie deterministically
    val ties = Seq(
      (3L, 31L, "x", t(0)), (3L, 30L, "y", t(0))
    ).toDF("user_id", "event_id", "event_type", "ts")
    val gt = Analytics.sessionPaths(ties, 1800000000L, 3, 10)
      .collect().map(_.getString(0))
    assert(gt.toSeq == Seq("y>x"), gt.toSeq.toString)
  }

  test("timeWeightedAvg: holding durations weight the mean; availability: " +
      "uptime + breach census at the SLO") {
    import graft.operators.TimeSeries
    import java.sql.Timestamp
    def t(sec: Long) = new Timestamp(sec * 1000L)
    // value 10 held 30s, value 20 held 10s, last sample excluded:
    // twa = (10*30 + 20*10)/40 = 12.5 — a plain avg would say 20
    val e = Seq(
      (1L, "m", t(0), 10.0), (2L, "m", t(30), 20.0), (3L, "m", t(40), 50.0)
    ).toDF("event_id", "event_type", "ts", "value")
    val twa = TimeSeries.timeWeightedAvg(e).collect().head
    assert(twa.getString(0) == "m" && twa.getDouble(1) == 12.5 &&
      twa.getLong(2) == 2L, twa.toString)
    // SLO 15s: the 30s gap breaches (covered only 15 of 30), the 10s
    // gap is fine -> uptime = (15 + 10) / 40, max gap 30s, 1 breach
    val av = TimeSeries.availability(e, sloUs = 15000000L).collect().head
    assert(av.getLong(1) == 30000000L && av.getLong(2) == 1L &&
      av.getDouble(3) == 25.0 / 40.0, av.toString)
    // single-sample series: no interval, absent from both reports
    val single = Seq((9L, "x", t(0), 1.0))
      .toDF("event_id", "event_type", "ts", "value")
    assert(TimeSeries.timeWeightedAvg(single).collect().isEmpty)
    assert(TimeSeries.availability(single, 15000000L).collect().isEmpty)
  }

  test("invertedIndex: exact df, sorted postings, cap engages on hot terms") {
    val docs = Seq(
      (5L, "hot rare x"), (3L, "hot y"), (1L, "hot hot z"),
      (4L, "hot w"), (2L, "hot rare v")).toDF("doc_id", "text")
    val got = TextAnalysis.invertedIndex(docs, minDf = 2, maxPostings = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getSeq[Long](2).toSeq)).toMap
    // df stays EXACT (5) even though postings truncate to the cap,
    // postings are the smallest doc_ids in sorted order
    assert(got("hot") == ((5L, Seq(1L, 2L, 3L))))
    assert(got("rare") == ((2L, Seq(2L, 5L))))
    assert(got.size == 2) // single-doc terms fall under minDf
  }

  test("corpusMix: per-source counts and exact shares sum to 1") {
    val docs = Seq((1L, "a b c", "s1"), (2L, "d e", "s1"), (3L, "f", "s2"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.corpusMix(docs).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got(0) == (("s1", 2L, 5L, 8L, 2.0 / 3.0, 5.0 / 6.0)))
    assert(got(1) == (("s2", 1L, 1L, 1L, 1.0 / 3.0, 1.0 / 6.0)))
  }

  test("bigramCounts counts corpus-wide (no per-doc dedup)") {
    val docs = Seq((1L, "x y x y"), (2L, "x y z")).toDF("doc_id", "text")
    // doc1: "x y","y x","x y"; doc2: "x y","y z" -> x y:3, y x:1, y z:1
    val got = TextAnalysis.bigramCounts(docs, 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(got == Seq("x y" -> 3L, "y x" -> 1L, "y z" -> 1L))
  }

  test("degreeAssortativity: star is exactly -1, regular graph nulls out") {
    import graft.operators.Graph
    // star K1,3: every directed edge pairs deg 3 with deg 1 — the
    // moments cancel to exactly -1 (integer arithmetic end to end)
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("u", "v")
    val r = Graph.degreeAssortativity(star).collect().head
    assert(r.getLong(0) == 6L && r.getDouble(1) == -1.0, r.toString)
    // K4 is 3-regular: zero degree variance -> NULL, not NaN
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
      .toDF("u", "v")
    val rk = Graph.degreeAssortativity(k4).collect().head
    assert(rk.getLong(0) == 12L && rk.isNullAt(1), rk.toString)
  }

  test("localClustering: exact coefficients, corner credit, minDeg gate, " +
      "deterministic top-k order") {
    import graft.operators.Graph
    // triangle {1,2,3} with pendant 3-4: lcc(1)=lcc(2)=1, lcc(3)=1/3,
    // node 4 (deg 1) is excluded by the minDeg=2 gate
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val got = Graph.localClustering(g, minDeg = 2L, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 2L, 1L, 1.0), (2L, 2L, 1L, 1.0),
      (3L, 3L, 1L, 1.0 / 3.0)), got.toSeq.toString)
    // K4: each node corners C(3,2)=3 triangles, lcc exactly 1; topK caps
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
      .toDF("u", "v")
    val gk = Graph.localClustering(k4, minDeg = 2L, topK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(gk.length == 2 && gk.forall(_._3 == 1.0), gk.toSeq.toString)
  }

  test("wedgeCensus fan-out budget: over-budget apexes drop observably, " +
      "at-budget census stays exact, both consumers degrade predictably") {
    import graft.operators.Graph
    // K4 oriented by (deg, id): all degrees 3, so every edge points from
    // the smaller id. Oriented out-degrees: 1->3, 2->2, 3->1, 4->0.
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
      .toDF("u", "v")
    // budget 2 excludes exactly apex 1 (out-degree 3) and is observable
    val capped = Graph.wedgeCensus(k4, maxFanout = 2L)
    assert(capped.droppedApexes == 1L, capped.droppedApexes.toString)
    // budget >= max out-degree trips nothing and stays exact
    assert(Graph.wedgeCensus(k4, maxFanout = 3L).droppedApexes == 0L)
    // predictable degradation: only wedges APEXED at 1 vanish; apex 2's
    // wedge (3,4) still closes -> 1 of the 4 triangles survives. The
    // wedge column is still the exact SigmaC(deg,2) = 12 off the degree
    // frame (the budget bounds enumeration, not the degree census).
    val tri = Graph.triangleStats(k4, maxFanout = 2L).collect().head
    assert(tri.getLong(0) == 1L && tri.getLong(1) == 12L, tri.toString)
    val triExact = Graph.triangleStats(k4, maxFanout = 3L).collect().head
    assert(triExact.getLong(0) == 4L && triExact.getDouble(2) == 1.0,
      triExact.toString)
    // localClustering under the same budget: the surviving triangle
    // (2,3,4) credits its three corners; node 1 keeps deg 3 but tri 0
    val lcc = Graph.localClustering(k4, minDeg = 2L, topK = 10,
        maxFanout = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(lcc.toSeq == Seq((2L, 1L, 1.0 / 3.0), (3L, 1L, 1.0 / 3.0),
      (4L, 1L, 1.0 / 3.0), (1L, 0L, 0.0)), lcc.toSeq.toString)
  }

  test("Materialize.release frees the blocks behind a checkpointed " +
      "frame and is a no-op on plain frames") {
    import graft.operators.Materialize
    val sc = spark.sparkContext
    // Track the SPECIFIC rdd id the checkpoint registers, never absolute
    // registry sizes: the ContextCleaner asynchronously drops GC'd
    // entries from earlier suites on the shared context, so global
    // counts can drift mid-test (seen: -3). Only additions are ours —
    // the cleaner exclusively removes.
    def addedBy(before: Set[Int]): Set[Int] =
      sc.getPersistentRDDs.keySet.toSet -- before
    val before1 = sc.getPersistentRDDs.keySet.toSet
    val ck = Seq(1L, 2L, 3L).toDF("x").localCheckpoint()
    val added1 = addedBy(before1)
    assert(added1.size == 1, s"expected one new persistent RDD: $added1")
    Materialize.release(ck)
    // the registry entry is dropped synchronously (only block deletion
    // is async under blocking = false)
    assert(addedBy(before1).isEmpty, "checkpoint entry not released")
    // derived frames release their backing checkpoint too (the loop
    // pattern: labels = checkpointed.select(...))
    val before2 = sc.getPersistentRDDs.keySet.toSet
    val ck2 = Seq(4L).toDF("x").localCheckpoint()
    val added2 = addedBy(before2)
    assert(added2.size == 1, s"expected one new persistent RDD: $added2")
    Materialize.release(ck2.select(col("x") + 1))
    assert(addedBy(before2).isEmpty, "derived-frame release missed")
    // plain (never-persisted) frames: no-op, no throw
    Materialize.release(Seq(5L).toDF("x"))
  }

  test("closedWedges bloom prefilter: bit-identical to the unfiltered " +
      "probe, and the over-budget fallback skips the bloom observably") {
    import graft.operators.Graph
    // irregular graph: K4 on {1..4} + triangle {10,11,12} + pendant
    // chain 4-20-21 — mixes closing and non-closing wedges so the bloom
    // actually has rows to pass AND to drop
    val g = ((for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)) ++
      Seq((10L, 11L), (10L, 12L), (11L, 12L), (4L, 20L), (20L, 21L)))
      .toDF("u", "v")
    val cen = Graph.wedgeCensus(g)
    // minBloomWedges = 0 forces the bloom ON despite the tiny wedge
    // volume (the default gate would skip it below 256 M wedges)
    val bloomedDf = Graph.closedWedges(cen, minBloomWedges = 0L)
    // the prefilter must be the BROADCAST-handle probe, not a plan
    // literal: a literal bloom is re-copied into every stage's task
    // binary and caps the census at driver-heap scale
    val plan = bloomedDf.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_might_contain"),
      s"broadcast bloom probe missing from plan:\n$plan")
    val bloomed = bloomedDf
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    // maxBloomEdges = 0 forces the no-bloom path (every edge count
    // exceeds a zero budget) — the exact semi-join alone
    val plain = Graph.closedWedges(cen, maxBloomEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(bloomed.toSeq == plain.toSeq, s"bloom=${bloomed.toSeq} " +
      s"plain=${plain.toSeq}")
    // 5 triangles total: 4 in K4 + 1 in {10,11,12}
    assert(bloomed.length == 5, bloomed.toSeq.toString)
  }

  test("closedWedges over-budget degradation: the fpp rises at the " +
      "budgeted filter size before the bloom is dropped, bit-identical") {
    import graft.operators.Graph
    val g = ((for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)) ++
      Seq((10L, 11L), (10L, 12L), (11L, 12L), (4L, 20L), (20L, 21L)))
      .toDF("u", "v")
    val cen = Graph.wedgeCensus(g)
    // 11 oriented edges vs a budget of 5: fpp degrades to
    // exp(-(5/11)·9.585·ln²2) ≈ 0.12 — under the 0.5 gate, so the
    // broadcast probe must STILL be in the plan (the old behavior
    // dropped the bloom the moment |E| crossed the budget)
    val degradedDf =
      Graph.closedWedges(cen, maxBloomEdges = 5L, minBloomWedges = 0L)
    val plan = degradedDf.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_might_contain"),
      s"degraded-fpp broadcast probe missing from plan:\n$plan")
    val degraded = degradedDf
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val plain = Graph.closedWedges(cen, maxBloomEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(degraded.toSeq == plain.toSeq)
    assert(degraded.length == 5, degraded.toSeq.toString)
    // far past the budget (fpp would exceed 0.5) the bloom IS dropped:
    // 11 edges vs budget 1 → fpp exp(-0.87·ln²2) ≈ 0.66
    val droppedPlan = Graph
      .closedWedges(cen, maxBloomEdges = 1L, minBloomWedges = 0L)
      .queryExecution.executedPlan.toString
    assert(!droppedPlan.contains("graft_bloom_might_contain"))
  }

  test("bloomEdgeBudget: heap-proportional, capped by maxResultSize") {
    import graft.operators.Graph
    val derived = Graph.bloomEdgeBudget(spark)
    // min of (~1.2 B/edge at ≤ 10% of max heap) and the driver's
    // maxResultSize ceiling (the merged filter arrives as ONE task
    // result) — must track the JVM actually running the driver
    val heapEdges = (Runtime.getRuntime.maxMemory / 10 / 1.2).toLong
    val maxResult = spark.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    // 10 % framing margin: an exactly-at-budget filter measured
    // 1045.7 MiB against a 1024 MiB maxResultSize at the 1 B-edge census
    val resultEdges =
      if (maxResult <= 0L) Long.MaxValue
      else (maxResult / 1.2 / 1.1).toLong
    assert(derived == math.min(heapEdges, resultEdges))
  }

  test("closedWedges closing probe: shuffle_hash under the edge cap, " +
      "planner's spillable join past it, bit-identical results") {
    import graft.operators.Graph
    val g = ((for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)) ++
      Seq((10L, 11L), (10L, 12L), (11L, 12L), (4L, 20L), (20L, 21L)))
      .toDF("u", "v")
    val cen = Graph.wedgeCensus(g)
    val hinted = Graph.closedWedges(cen, maxBloomEdges = 0L)
    hinted.collect()
    assert(hinted.queryExecution.executedPlan.toString
      .contains("ShuffledHashJoin"), "under-cap probe lost shuffle_hash")
    // cap 0: every edge count exceeds it — the forced non-spillable
    // hash build must be GONE (AQE byte-coalescing re-fattens builds
    // behind any configured partition count; measured OOM at 1 B edges)
    val uncapped = Graph.closedWedges(cen, maxBloomEdges = 0L,
      shuffleHashEdgeCap = 0L)
    val rows = uncapped.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(!uncapped.queryExecution.executedPlan.toString
      .contains("ShuffledHashJoin"), "over-cap probe still forces a build")
    val base = hinted.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(rows.toSeq == base.toSeq)
    assert(rows.length == 5, rows.toSeq.toString)
  }

  test("closedWedges wedge/edge ratio gate: the bloom does NOT arm on " +
      "wedge-sparse graphs (its build is edge-shaped), forced only by " +
      "minBloomWedges = 0; results identical either way") {
    import graft.operators.Graph
    val g = ((for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)) ++
      Seq((10L, 11L), (10L, 12L), (11L, 12L), (4L, 20L), (20L, 21L)))
      .toDF("u", "v")
    val cen = Graph.wedgeCensus(g)
    // wedge bound 19 vs 11 oriented edges: ratio < 12 — a NONZERO
    // minBloomWedges (here 1, far under the bound) must now skip the
    // bloom on the ratio alone (measured at 1 B edges: bloom 406 s vs
    // plain 248 s when wedges ≈ 1.5× edges)
    val gated = Graph.closedWedges(cen, minBloomWedges = 1L)
    assert(!gated.queryExecution.executedPlan.toString
      .contains("graft_bloom_might_contain"),
      "ratio gate failed: bloom armed on a wedge-sparse graph")
    val got = gated.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val forced = Graph.closedWedges(cen, minBloomWedges = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq == forced.toSeq)
    assert(got.length == 5, got.toSeq.toString)
  }

  test("acf: linear series autocorrelates to exactly 1 at every lag; " +
      "constant series nulls; n shrinks with the lag") {
    import graft.operators.TimeSeries
    import java.sql.Timestamp
    // one point per hour, value = hour index: any lag pairs two linear
    // sequences -> Pearson exactly 1 (small-integer double arithmetic)
    val lin = (0L until 10L).map(h =>
      (h, "purchase", new Timestamp(h * 3600000L), h.toDouble))
      .toDF("event_id", "event_type", "ts", "value")
    val got = TimeSeries.acf(lin, "purchase", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 9L, 1.0), (2L, 8L, 1.0), (3L, 7L, 1.0)),
      got.toSeq.toString)
    // constant series: zero variance on both sides -> NULL acf, never NaN
    val const = (0L until 5L).map(h =>
      (h, "purchase", new Timestamp(h * 3600000L), 7.0))
      .toDF("event_id", "event_type", "ts", "value")
    val gc = TimeSeries.acf(const, "purchase", 2).collect()
    assert(gc.forall(_.isNullAt(2)), gc.toSeq.toString)
  }

  test("trailingWindow: half-open (t-w, t] frame over irregular samples; " +
      "peers enter together; series stay independent") {
    import graft.operators.TimeSeries
    import java.sql.Timestamp
    def t(sec: Long) = new Timestamp(sec * 1000L)
    // series (a,1): samples at 0s, 3000s, 3600s, 7200s — the 1h window
    // at 3600s includes 3000s and 3600s but NOT 0s (half-open);
    // at 7200s only itself (3600s is exactly w back -> excluded)
    val e = Seq(
      (1L, "a", 1L, t(0), 10.0), (2L, "a", 1L, t(3000), 20.0),
      (3L, "a", 1L, t(3600), 30.0), (4L, "a", 1L, t(7200), 40.0),
      (5L, "a", 2L, t(3600), 99.0), // other user: separate series
      (6L, "b", 1L, t(3600), 7.0), (7L, "b", 1L, t(3600), 8.0) // peers
    ).toDF("event_id", "event_type", "user_id", "ts", "value")
    val got = TimeSeries.trailingWindow(e, 3600000000L)
      .collect().map(r => r.getLong(0) -> (r.getDouble(4), r.getLong(5))).toMap
    assert(got(1L) == (10.0, 1L) && got(2L) == (30.0, 2L), got.toString)
    assert(got(3L) == (50.0, 2L), got.toString) // 0s aged out, half-open
    assert(got(4L) == (40.0, 1L), got.toString) // exactly-w back excluded
    assert(got(5L) == (99.0, 1L), got.toString) // series isolation
    // same-ts peers: BOTH rows see the full peer group (7+8)
    assert(got(6L) == (15.0, 2L) && got(7L) == (15.0, 2L), got.toString)
  }

  test("sssp: hop-limited min-plus — a cheap 2-hop path beats a direct " +
      "edge only once rounds allow it; multi-seed takes the min; " +
      "unreached nodes stay absent") {
    import graft.operators.Graph
    val edges = Seq((1L, 2L, 10L), (2L, 3L, 10L), (1L, 3L, 30L),
      (5L, 3L, 1L), (8L, 9L, 5L)).toDF("src", "dst", "w")
    def run(seeds: Seq[Long], rounds: Int) =
      Graph.sssp(edges, seeds.toDF("node"), rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1 round: only direct edges -> node 3 costs 30
    assert(run(Seq(1L), 1) == Map(1L -> 0L, 2L -> 10L, 3L -> 30L))
    // 2 rounds: the 10+10 path through 2 wins; 8/9 stay unreached
    assert(run(Seq(1L), 2) == Map(1L -> 0L, 2L -> 10L, 3L -> 20L))
    // extra rounds at the fixed point change nothing
    assert(run(Seq(1L), 4) == Map(1L -> 0L, 2L -> 10L, 3L -> 20L))
    // second seed 5 undercuts node 3 via its 1-cost edge
    assert(run(Seq(1L, 5L), 2) ==
      Map(1L -> 0L, 2L -> 10L, 3L -> 1L, 5L -> 0L))
  }

  test("labelPropagation: two cliques with a bridge collapse to their " +
      "min-id labels; ties pick the smallest label; sync rounds") {
    import graft.operators.Graph
    // clique {1,2,3} + clique {10,11,12}, bridge 3-10
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L)).toDF("u", "v")
    val g = Graph.symmetricEdges(pairs)
    val l1 = Graph.labelPropagation(g, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1: every node takes its min neighbor label (all counts tie)
    assert(l1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 10L, 12L -> 10L), l1.toString)
    val l2 = Graph.labelPropagation(g, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 2 from l1: node 1 sees {1(from2),1(from3)} -> 1; the right
    // clique converges toward the bridge-imported low labels
    assert(l2(1L) == 1L && l2(2L) == 1L && l2(12L) == 3L, l2.toString)
    // an isolated directed source (no in-edges) keeps its seed forever
    val chain = Seq((100L, 200L)).toDF("src", "dst")
    val lc = Graph.labelPropagation(chain, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lc == Map(100L -> 100L, 200L -> 100L), lc.toString)
  }

  test("interarrivalStats: periodic cadence gives cv=0 and B=-1; a lone " +
      "gap NULLs the shape stats; moments match hand math") {
    import graft.operators.TimeSeries
    import java.sql.Timestamp
    def t(sec: Long) = new Timestamp(sec * 1000L)
    val e = Seq(
      // 'tick': perfectly periodic at 10s -> cv 0, burstiness -1
      (1L, "tick", 1L, t(0), 0.0), (2L, "tick", 1L, t(10), 0.0),
      (3L, "tick", 1L, t(20), 0.0), (4L, "tick", 1L, t(30), 0.0),
      // 'burst': gaps 1s and 3s -> mean 2e6 us, sd 1e6, cv = sqrt(2)/... hand below
      (5L, "burst", 1L, t(0), 0.0), (6L, "burst", 1L, t(1), 0.0),
      (7L, "burst", 1L, t(4), 0.0),
      // 'pair': single gap -> NULL cv/burstiness
      (8L, "pair", 1L, t(0), 0.0), (9L, "pair", 1L, t(5), 0.0)
    ).toDF("event_id", "event_type", "user_id", "ts", "value")
    val got = TimeSeries.interarrivalStats(e).collect()
      .map(r => r.getString(0) -> r).toMap
    val tick = got("tick")
    assert(tick.getLong(1) == 3L && tick.getLong(2) == 10000000L)
    assert(tick.getDouble(3) == 10000000.0 && tick.getDouble(4) == 0.0 &&
      tick.getDouble(5) == -1.0, tick.toString)
    val burst = got("burst")
    // gaps 1e6, 3e6: n=2, sg=4e6, sgg=1e13; D = 2e13 - 1.6e13 = 4e12
    // cv = 2e6/4e6 = 0.5; B = (2e6-4e6)/(2e6+4e6) = -1/3
    assert(burst.getLong(1) == 2L && burst.getDouble(4) == 0.5, burst.toString)
    assert(math.abs(burst.getDouble(5) - (-1.0 / 3.0)) < 1e-15, burst.toString)
    val pair = got("pair")
    assert(pair.isNullAt(4) && pair.isNullAt(5), pair.toString)
  }

  test("yoyGrowth: pairs (year-1, month) exactly; a missing prior month " +
      "yields NULL prev/delta/ratio, never a mispair") {
    import graft.operators.Relational
    def row(d: String, price: Double) = (d, price, 0.0)
    val li = Seq(
      row("1996-01-15 00:00:00", 100.0), row("1996-03-10 00:00:00", 50.0),
      row("1997-01-20 00:00:00", 150.0), // YoY vs 1996-01
      row("1997-02-05 00:00:00", 70.0))  // 1996-02 missing -> NULLs
      .toDF("l_sd", "l_extendedprice", "l_discount")
      .select(col("l_sd").cast("timestamp").as("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
    val got = Relational.yoyGrowth(li).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r).toMap
    assert(got.size == 4, got.toString)
    val jan97 = got((1997, 1))
    assert(jan97.getDouble(2) == 150.0 && jan97.getDouble(3) == 100.0 &&
      jan97.getDouble(4) == 50.0 && jan97.getDouble(5) == 1.5, jan97.toString)
    val feb97 = got((1997, 2))
    assert(feb97.getDouble(2) == 70.0 && feb97.isNullAt(3) &&
      feb97.isNullAt(4) && feb97.isNullAt(5), feb97.toString)
    assert(got((1996, 1)).isNullAt(3), got.toString)
  }

  test("TPC-H shape quartet: Q2 keeps min-cost ties and region-prunes, " +
      "Q11 strict integral threshold, Q16 distinct pairs minus flagged " +
      "suppliers, Q20 strict quantity threshold inside the year") {
    import graft.operators.Relational
    import java.sql.Timestamp
    val region = Seq((0, "EUROPE"), (1, "ASIA")).toDF("r_regionkey", "r_name")
    val nation = Seq((0, "N0", 0), (1, "N1", 0), (2, "N2", 1))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val supplier = Seq((1, "S1", 0, 100.0), (2, "S2", 0, 200.0),
      (3, "S3", 2, 300.0), (4, "S4", 0, -5.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val part = Seq((10, "small ring", "Brand#1", "ECONOMY", 15),
      (11, "small bolt", "Brand#2", "ECONOMY", 15),
      (12, "red gear", "Brand#2", "SMALL", 7))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size")
    def li(rows: (Int, Int, Int, Double, Double, Double, String)*) =
      rows.toSeq.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_sd")
        .select(col("*"), col("l_sd").cast("timestamp").as("l_shipdate"))

    // Q2: S1/S2 tie at 50.00 on part 10 (both kept); S1 alone wins part 11;
    // S3's cheaper offer is outside EUROPE so it must not count
    val l2 = li((1, 10, 1, 1, 50.0, 0.0, "1996-01-01 00:00:00"),
      (2, 10, 2, 1, 50.0, 0.0, "1996-01-01 00:00:00"),
      (3, 10, 2, 1, 80.0, 0.0, "1996-01-01 00:00:00"),
      (4, 10, 3, 1, 10.0, 0.0, "1996-01-01 00:00:00"),
      (5, 11, 1, 1, 30.0, 0.0, "1996-01-01 00:00:00"),
      (6, 11, 2, 1, 40.0, 0.0, "1996-01-01 00:00:00"),
      (7, 12, 1, 1, 5.0, 0.0, "1996-01-01 00:00:00"))
    val q2 = Relational.minCostSupplier(l2, part, supplier, nation, region,
        15, "ECONOMY", "EUROPE", 10)
      .collect().map(r => (r.getString(1), r.getInt(3), r.getDouble(5))).toSet
    assert(q2 == Set(("S1", 10, 50.0), ("S2", 10, 50.0), ("S1", 11, 30.0)),
      q2.toString)

    // Q11: 60/40 revenue split with perMille=2 (val*2 > total) keeps only
    // the 60% part; an exact 50/50 split keeps NOTHING (strict >); S3's
    // out-of-nation revenue is invisible
    val l11 = li((1, 10, 1, 1, 60.0, 0.0, "1996-01-01 00:00:00"),
      (2, 11, 2, 1, 40.0, 0.0, "1996-01-01 00:00:00"),
      (3, 12, 3, 1, 999.0, 0.0, "1996-01-01 00:00:00"))
    val q11 = Relational.importantPartValue(l11, supplier, nation, "N0", 2, 10)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(q11 == Map(10 -> 60.0), q11.toString)
    val l11b = li((1, 10, 1, 1, 50.0, 0.0, "1996-01-01 00:00:00"),
      (2, 11, 2, 1, 50.0, 0.0, "1996-01-01 00:00:00"))
    assert(Relational.importantPartValue(l11b, supplier, nation, "N0", 2, 10)
      .count() == 0L)

    // Q16: duplicate (part, supplier) lines count once; S4 (negative
    // balance) is excluded; the SMALL part sits outside the size list
    val l16 = li((1, 10, 1, 1, 1.0, 0.0, "1996-01-01 00:00:00"),
      (2, 10, 1, 1, 2.0, 0.0, "1996-01-01 00:00:00"),
      (3, 10, 4, 1, 3.0, 0.0, "1996-01-01 00:00:00"),
      (4, 11, 1, 1, 4.0, 0.0, "1996-01-01 00:00:00"),
      (5, 11, 2, 1, 5.0, 0.0, "1996-01-01 00:00:00"),
      (6, 12, 1, 1, 6.0, 0.0, "1996-01-01 00:00:00"))
    val q16 = Relational.supplierCountByPartAttrs(l16, part, supplier,
        "Brand#9", "PROMO", Seq(15), 10)
      .collect().map(r => (r.getString(0), r.getInt(2), r.getLong(3))).toSet
    assert(q16 == Set(("Brand#1", 15, 1L), ("Brand#2", 15, 2L)), q16.toString)

    // Q20: S1 ships 150 of small parts inside 1996 (kept); S2 exactly the
    // threshold (strict > drops it); 1995 shipments and non-small parts
    // never count
    val l20 = li((1, 10, 1, 90.0, 1.0, 0.0, "1996-03-01 00:00:00"),
      (2, 11, 1, 60.0, 1.0, 0.0, "1996-06-01 00:00:00"),
      (3, 10, 2, 100.0, 1.0, 0.0, "1996-03-01 00:00:00"),
      (4, 10, 1, 500.0, 1.0, 0.0, "1995-12-31 00:00:00"),
      (5, 12, 1, 500.0, 1.0, 0.0, "1996-03-01 00:00:00"))
    val q20 = Relational.excessShippers(l20, part, supplier, nation,
        "small", 1996, 100)
      .collect().map(r => (r.getInt(0), r.getString(2), r.getDouble(3)))
    assert(q20.toSeq == Seq((1, "N0", 150.0)), q20.mkString(","))
  }

  test("chiSquareDrift: terms rebuild from the emitted counts, identical " +
      "proportions zero out, an empty split nulls every term") {
    // the split is hash-assigned, so assert the INVARIANTS: every term
    // non-negative and exactly equal to the chi-square formula over the
    // row's own counts + the board totals
    val docs = (1L to 400L).map(i => (i, (i % 7) * 50 + 30))
      .toDF("doc_id", "n_chars")
    val rows = Sampling.chiSquareDrift(docs, "doc_id", "n_chars", 50, 40, 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
    assert(rows.nonEmpty)
    val tTot = rows.map(_._2).sum
    val vTot = rows.map(_._3).sum
    assert(tTot > 0 && vTot > 0)
    rows.foreach { case (_, tn, vn, term) =>
      val rowD = (tn + vn).toDouble
      val nD = (tTot + vTot).toDouble
      val et = rowD * tTot.toDouble / nD
      val ev = rowD * vTot.toDouble / nD
      val want = (tn - et) * (tn - et) / et + (vn - ev) * (vn - ev) / ev
      assert(term == want && term >= 0d, s"($tn,$vn): $term != $want")
    }
    // valPct = 0: v_tot = 0 -> every term NULL (no division blow-up)
    val none = Sampling.chiSquareDrift(docs, "doc_id", "n_chars", 50, 0, 50L)
      .collect()
    assert(none.nonEmpty && none.forall(_.isNullAt(3)))
  }

  test("benfordDigits: string-extracted leading digit, sub-1 amounts dropped, " +
      "shares sum to 1 against the Benford constants") {
    // digits: 1.5->1, 19.9->1, 100.0->1, 2.3->2, 9.99->9; 0.5 filtered out
    val amounts = Seq(1.5, 19.9, 100.0, 2.3, 0.5, 9.99)
      .toDF("amt")
    val rows = Analytics.benfordDigits(amounts, "amt")
      .orderBy("digit").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(t => (t._1, t._2)).toSeq == Seq((1, 3L), (2, 1L), (9, 1L)))
    assert(rows.map(_._3).toSeq == Seq(0.6, 0.2, 0.2)) // exact /5 shares
    assert(rows.map(_._4).sum < 1.0) // only 3 of 9 expected shares present
    assert(rows.find(_._1 == 1).get._4 == 0.3010299956639812)
  }

  test("userDiversity: Simpson index from exact counts, 0 for single-type users") {
    val events = ev(
      (1L, "a", 1L), (1L, "a", 2L), (1L, "b", 3L), // (3²-(4+1))/3² = 4/9
      (2L, "a", 1L), (2L, "a", 2L))                // single type -> 0
    val got = Analytics.userDiversity(events).orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 2L, 3L, 4.0 / 9.0), (2L, 1L, 2L, 0.0)))
  }

  test("distributedRank equals the single-window row_number on seeded " +
      "random data (with and without partition keys)") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    val rows = (1L to 500L).map(i =>
      (s"g${rnd.nextInt(3)}", i, rnd.nextInt(40).toDouble))
    val df = rows.toDF("event_type", "event_id", "value")
      .repartition(13) // deliberately more partitions than groups
    val got = Analytics.distributedRank(df, Seq("event_type"),
        Seq(col("value").asc, col("event_id").asc))
      .select(col("event_type"), col("event_id"), col("rn"))
    val want = df.withColumn("rn", row_number().over(
      Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))))
      .select(col("event_type"), col("event_id"), col("rn"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // global (no partition key), descending order
    val got2 = Analytics.distributedRank(df, Seq.empty,
        Seq(col("value").desc, col("event_id").asc))
      .select(col("event_id"), col("rn"))
    val want2 = df.withColumn("rn", row_number().over(
      Window.orderBy(col("value").desc, col("event_id"))))
      .select(col("event_id"), col("rn"))
    assert(got2.exceptAll(want2).count() == 0 &&
      want2.exceptAll(got2).count() == 0)
  }

  test("giniConcentration: (1,3) spend split gives G=0.25, equal spend gives 0") {
    val events = ev(
      (1L, "a", 1L), (2L, "a", 2L), (2L, "a", 3L), (2L, "a", 4L), // u1=1, u2=3
      (1L, "b", 1L), (2L, "b", 2L))                               // equal -> 0
    val got = Analytics.giniConcentration(events).orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    // G(1,3) = mean|xi-xj| / (2*mean) = 1/4
    assert(got.toSeq == Seq(("a", 2L, 4.0, 0.25), ("b", 2L, 2.0, 0.0)))
  }

  test("trendLine: perfect 1-unit-per-minute line recovers slope/intercept/R2; " +
      "single-instant type nulls out") {
    val baseUs = 1704067200000000L
    val events = (Seq((0L, 1.0), (60L, 2.0), (120L, 3.0)).map { case (s, v) =>
        ("a", baseUs + s * 1000000L, v)
      } ++ Seq(("b", baseUs, 5.0), ("b", baseUs, 9.0)))
      .toDF("event_type", "t_us", "value")
      .select(col("event_type"), timestamp_micros(col("t_us")).as("ts"),
        col("value"))
    val got = Analytics.trendLine(events).orderBy("event_type").collect()
    val a = got(0)
    assert(a.getLong(1) == 3L)
    assert(math.abs(a.getDouble(2) - 1440.0) < 1e-9)  // 1 unit/min = 1440/day
    assert(math.abs(a.getDouble(3) - 1.0) < 1e-12)    // intercept at base
    assert(math.abs(a.getDouble(4) - 1.0) < 1e-12)    // perfect fit
    val b = got(1) // all at one instant: var_t = 0 -> every stat NULL
    assert(b.isNullAt(2) && b.isNullAt(3) && b.isNullAt(4))
  }

  test("scd2 collapses consecutive runs; duplicate-ts changes order by event_id") {
    val events = Seq(
      (1L, 10L, "a", 1L), (1L, 11L, "a", 2L), (1L, 12L, "b", 3L),
      (1L, 13L, "a", 4L),
      (2L, 20L, "x", 5L), (2L, 21L, "y", 5L)) // same ts: event_id orders x->y
      .toDF("user_id", "event_id", "event_type", "sec")
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_micros(col("sec") * 1000000L).as("ts"))
    val got = Analytics.scd2(events)
      .orderBy("user_id", "valid_from_us", "state").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      (1L, "a", 1000000L, 3000000L, false),
      (1L, "b", 3000000L, 4000000L, false),
      (1L, "a", 4000000L, -1L, true),
      (2L, "x", 5000000L, 5000000L, false), // same-µs handoff, id-ordered
      (2L, "y", 5000000L, -1L, true)))
  }

  test("rfmSegments: n=5 distinct metrics make score = ascending rank; " +
      "frequency ties break on custkey") {
    val orders = (1L to 5L).map(k =>
        (k, 1704067200000000L + k * 86400000000L, k * 100.0))
      .toDF("o_custkey", "d_us", "o_totalprice")
      .select(col("o_custkey"), timestamp_micros(col("d_us")).as("o_orderdate"),
        col("o_totalprice"))
    val got = Analytics.rfmSegments(orders).orderBy("o_custkey").collect()
      .map(r => (r.getLong(0), r.getInt(4), r.getInt(5), r.getInt(6),
        r.getString(7)))
    assert(got.toSeq == (1 to 5).map(k => (k.toLong, k, k, k, s"$k$k$k")))
  }

  test("attributionLastTouch credits the nearest prior non-conversion within " +
      "horizon, else 'direct'") {
    val events = Seq(
      (1L, 1L, "view", 100L, 1.0), (1L, 2L, "click", 200L, 1.0),
      (1L, 3L, "purchase", 300L, 10.0),            // click credited
      (2L, 4L, "purchase", 100L, 20.0),            // no prior -> direct
      (3L, 5L, "view", 0L, 1.0),
      (3L, 6L, "purchase", 90000L, 40.0))          // past 1-day horizon -> direct
      .toDF("user_id", "event_id", "event_type", "sec", "value")
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_micros(col("sec") * 1000000L).as("ts"), col("value"))
    val got = Analytics.attributionLastTouch(events, "purchase",
        24L * 3600000000L)
      .orderBy("channel").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("click", 1L, 10.0), ("direct", 2L, 60.0)))
  }

  test("equiDepthBoundaries picks values at ranks k*n div buckets") {
    val events = (1L to 8L).map(i => ("a", i, i.toDouble))
      .toDF("event_type", "event_id", "value")
    val got = Analytics.equiDepthBoundaries(events, 4)
      .orderBy("rk").collect()
      .map(r => (r.getLong(1), r.getDouble(3)))
    assert(got.toSeq == Seq((2L, 2.0), (4L, 4.0), (6L, 6.0), (8L, 8.0)))
  }

  test("auditOrderTotals reconciles exact recomputes and flags lineitem-less " +
      "orders against zero") {
    val orders = Seq((1L, "O", 110.0), (2L, "O", 50.0))
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    val lineitem = Seq((1L, 100.0, 0.0, 0.10))
      .toDF("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
    val got = Relational.auditOrderTotals(orders, lineitem).collect()
    assert(got.length == 1)
    val r = got(0)
    // order 1: 100*(1-0)*(1+0.1) = 110 exactly -> match; order 2: no
    // lineitems -> recomputed 0, |diff| = 50 -> mismatch
    assert(r.getString(0) == "O" && r.getLong(1) == 2L && r.getLong(2) == 1L)
    assert(r.getDouble(3) == 50.0 && r.getDouble(4) == 160.0 &&
      r.getDouble(5) == 110.0)
  }

  test("auditForeignKeys counts orphans per edge (null keys are orphans)") {
    val lineitem = Seq((1L, 10L, 100L), (2L, 10L, 100L), (9L, 10L, 100L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey") // orderkey 9 orphaned
    val orders = Seq((1L, 5L), (2L, 5L)).toDF("o_orderkey", "o_custkey")
    val customer = Seq((5L, 1L)).toDF("c_custkey", "c_nationkey")
    val supplier = Seq((100L, 1L)).toDF("s_suppkey", "s_nationkey")
    val part = Seq((10L, "p")).toDF("p_partkey", "p_name")
    val nation = Seq((1L, 7L)).toDF("n_nationkey", "n_regionkey")
    val region = Seq((7L, "r")).toDF("r_regionkey", "r_name")
    val m = Relational.auditForeignKeys(lineitem, orders, customer,
        supplier, part, nation, region)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(m("lineitem->orders") == ((3L, 1L)))
    assert(m("lineitem->part") == ((3L, 0L)))
    assert(m("orders->customer") == ((2L, 0L)))
    assert(m("nation->region") == ((1L, 0L)))
  }

  test("cohortLtv accumulates per-cohort value into LTV per user") {
    // users 1,2 cohort at hour 0 (user 1 spends 2 then 4; user 2 spends 6
    // at hour 1); user 3 cohorts at hour 1 alone
    val events = ev(
      (1L, "a", 100L), (2L, "a", 200L),      // hour 0, values 1.0 each
      (1L, "a", 3700L), (2L, "a", 3800L),    // hour 1
      (3L, "a", 3900L))                      // user 3 first seen hour 1
    val got = Analytics.cohortLtv(events)
      .orderBy("cohort_us", "offset_h").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4),
        r.getDouble(5)))
    // cohort 0: 2 users, hour0 value 2.0 -> cum 2.0, ltv 1.0;
    //           hour1 value 2.0 -> cum 4.0, ltv 2.0
    // cohort 3600s: 1 user, value 1.0 -> ltv 1.0
    assert(got.toSeq == Seq(
      (0L, 0L, 2L, 2.0, 1.0),
      (0L, 1L, 2L, 4.0, 2.0),
      (3600000000L, 0L, 1L, 1.0, 1.0)))
  }

  test("abTest: exact arm counts and the pooled two-proportion z") {
    // users 2,4 (A): both convert; users 1,3 (B): one converts
    val events = ev(
      (2L, "purchase", 1L), (4L, "purchase", 2L),
      (1L, "purchase", 3L), (3L, "view", 4L))
    val r = Analytics.abTest(events, "purchase").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 2L, 2L, 1L)))
    assert(r.getDouble(4) == 1.0 && r.getDouble(5) == 0.5)
    val p = 3.0 / 4.0
    val want = (1.0 - 0.5) / math.sqrt(p * (1 - p) * (1.0 / 2 + 1.0 / 2))
    assert(r.getDouble(6) == want)
  }

  test("abTest nulls z when every user converts (p_pool = 1)") {
    val events = ev((1L, "purchase", 1L), (2L, "purchase", 2L))
    val r = Analytics.abTest(events, "purchase").collect()(0)
    assert(r.getDouble(4) == 1.0 && r.getDouble(5) == 1.0 && r.isNullAt(6))
  }

  test("cdfNormalize maps per-type values onto [0,1]; singleton type -> 0.5") {
    val events = Seq(("a", 1L, 10.0), ("a", 2L, 30.0), ("a", 3L, 20.0),
        ("b", 4L, 7.0))
      .toDF("event_type", "event_id", "value")
    val got = Analytics.cdfNormalize(events).orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 0.0), (2L, 1.0), (3L, 0.5), (4L, 0.5)))
  }

  test("attributionLinear splits each conversion equally across its " +
      "horizon touches; exact per-(channel,n) sums") {
    val events = Seq(
      (1L, 1L, "view", 100L, 1.0), (1L, 2L, "click", 200L, 1.0),
      (1L, 3L, "purchase", 300L, 10.0),   // 2 touches: 5 each
      (2L, 4L, "purchase", 100L, 20.0),   // direct (n=0)
      (3L, 5L, "view", 100L, 1.0),
      (3L, 6L, "purchase", 200L, 8.0))    // 1 touch: view gets 8
      .toDF("user_id", "event_id", "event_type", "sec", "value")
      .select(col("user_id"), col("event_id"), col("event_type"),
        timestamp_micros(col("sec") * 1000000L).as("ts"), col("value"))
    val got = Analytics.attributionLinear(events, "purchase",
        24L * 3600000000L)
      .orderBy("channel", "n_touches").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      ("click", 2L, 1L, 5.0),   // user 1's purchase: 10/2 via click
      ("direct", 0L, 1L, 20.0),
      ("view", 1L, 1L, 8.0),    // user 3
      ("view", 2L, 1L, 5.0)))   // user 1's other half
  }

  test("skewReport: hot key, counts, and the uniformity factor") {
    // key column k: value 7 appears 3x, 1 and 2 once each -> n=5, keys=3,
    // max=3, skew = 3*3/5
    val df = Seq(7L, 7L, 7L, 1L, 2L).toDF("k")
    val r = Analytics.skewReport(df, "t", Seq("k")).collect()(0)
    assert(r.getString(0) == "t.k" && r.getLong(1) == 5L &&
      r.getLong(2) == 3L && r.getLong(3) == 3L)
    assert(r.getString(4) == "7" && r.getDouble(5) == 9.0 / 5.0)
  }

  test("lagFeatures: lags, first difference, trailing-3 mean; leading NULLs") {
    val events = Seq(("a", 1L, 1L, 2.0), ("a", 2L, 2L, 4.0), ("a", 3L, 3L, 9.0))
      .toDF("event_type", "event_id", "sec", "value")
      .select(col("event_type"), col("event_id"),
        timestamp_micros(col("sec") * 1000000L).as("ts"), col("value"))
    val got = Analytics.lagFeatures(events).orderBy("ts_us").collect()
    val r1 = got(0); val r3 = got(2)
    assert(r1.isNullAt(4) && r1.isNullAt(5) && r1.isNullAt(6))
    assert(r1.getDouble(7) == 2.0)                       // mean of itself
    assert(r3.getDouble(4) == 4.0 && r3.getDouble(5) == 2.0)
    assert(r3.getDouble(6) == 5.0)                       // 9 - 4
    assert(r3.getDouble(7) == 5.0)                       // (2+4+9)/3
  }

  test("freshnessReport: lag vs the freshest series, trailing-hour volume") {
    val events = ev(
      (1L, "a", 10000L), (1L, "a", 10500L),   // 'a' fresh: 2 in last hour
      (2L, "b", 1000L))                        // 'b' lags 9500s, 0 in last hour
    val got = Analytics.freshnessReport(events).orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("a", 10500000000L, 0L, 2L, 2L),
      ("b", 1000000000L, 9500000000L, 1L, 0L)))
  }

  test("anomalyPoisson flags the hour breaking the sqrt(mean) band") {
    // type a: three hours with 4, 4, 16 events -> lambda = 8,
    // devs = (-4/√8, -4/√8, +8/√8) = (-1.41.., -1.41.., +2.83..);
    // only the spike crosses a 2.0 threshold
    val rows = (1 to 4).map(i => (1L, "a", 10L + i)) ++
      (1 to 4).map(i => (2L, "a", 3700L + i)) ++
      (1 to 16).map(i => (3L, "a", 7300L + i))
    val got = Analytics.anomalyPoisson(ev(rows: _*), 2.0).collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getLong(2) == 16L && r.getDouble(3) == 8.0)
    assert(math.abs(r.getDouble(4) - 8.0 / math.sqrt(8.0)) < 1e-15)
  }

  test("wilsonConversion: small samples rank below larger equal-rate hours") {
    // hour 0: 1/1 converts (rate 1.0); hour 1: 9/10 convert (rate 0.9) —
    // the Wilson lower bound must rank hour 1 ABOVE the 1/1 hour
    val events = ev(
      (1L, "purchase", 100L)) // hour 0: user 1 converts
      .unionByName(ev((2L to 11L).map(u =>
        (u, if (u <= 10) "purchase" else "view", 3700L)): _*))
    val got = Analytics.wilsonConversion(events, "purchase")
      .orderBy("bucket_us").collect()
    val h0 = got(0); val h1 = got(1)
    assert(h0.getLong(1) == 1L && h0.getLong(2) == 1L &&
      h0.getDouble(3) == 1.0)
    assert(h1.getLong(1) == 10L && h1.getLong(2) == 9L &&
      h1.getDouble(3) == 0.9)
    assert(h1.getDouble(4) > h0.getDouble(4),
      s"9/10 Wilson ${h1.getDouble(4)} must beat 1/1 ${h0.getDouble(4)}")
    // hand-check 1/1: (1 + z²/2 - z·sqrt(z²/4))/(1+z²) = 1/(1+z²)... via formula
    val z = 1.96
    val want = (1.0 + z * z / 2.0 - z * math.sqrt(z * z / 4.0)) / (1.0 + z * z)
    assert(math.abs(h0.getDouble(4) - want) < 1e-15)
  }

  test("targetEncodeLoo excludes each row's own label; singleton -> NULL") {
    val events = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 6.0),
        ("b", 4L, 9.0))
      .toDF("event_type", "event_id", "value")
    val got = Analytics.targetEncodeLoo(events).orderBy("event_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
    assert(got(0) == ((1L, 4.0)))  // (2+6)/2
    assert(got(1) == ((2L, 3.5)))  // (1+6)/2
    assert(got(2) == ((3L, 1.5)))  // (1+2)/2
    assert(got(3)._2.isNaN)        // singleton group
  }

  test("kAnonymity flags sub-k QI groups and the worst l-diversity") {
    // QI (type, hour): group (a, h0) has 3 rows/2 users; (b, h0) 1 row
    val events = ev(
      (1L, "a", 100L), (1L, "a", 200L), (2L, "a", 300L),
      (3L, "b", 400L))
    val r = Analytics.kAnonymity(events, 2L).collect()(0)
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)     // k, n_groups
    assert(r.getLong(2) == 1L && r.getLong(3) == 1L)     // small, at risk
    assert(r.getLong(4) == 4L && r.getDouble(5) == 0.25)
    assert(r.getLong(6) == 1L)                           // min l-div
  }

  test("winsorize clips at the ceil-position p01/p99 order statistics") {
    // n=100 values 1..100: lo = value at rank ceil(1) = 1, hi = rank 99
    val events = (1L to 100L).map(i => ("a", i, i.toDouble))
      .toDF("event_type", "event_id", "value")
    val got = Analytics.winsorize(events).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toMap
    assert(got(1L) == 1.0 && got(50L) == 50.0)
    assert(got(100L) == 99.0, "top value clips to the p99 statistic")
    assert(got(99L) == 99.0)
  }

  test("skewKurtosis: symmetric 3-point sample gives skew 0 / kurt -1.5; " +
      "zero variance nulls both") {
    val events = (Seq(("a", 1.0), ("a", 2.0), ("a", 3.0)) ++
        Seq.fill(4)(("b", 5.0)))
      .toDF("event_type", "value")
    val got = Analytics.skewKurtosis(events).orderBy("event_type").collect()
    val a = got(0)
    assert(a.getLong(1) == 3L && a.getDouble(2) == 2.0)
    assert(math.abs(a.getDouble(3) - 2.0 / 3.0) < 1e-15) // variance m2
    assert(a.getDouble(4) == 0.0, "symmetric -> zero skewness")
    assert(math.abs(a.getDouble(5) - (-1.5)) < 1e-12, "3-pt uniform kurtosis")
    val b = got(1)
    assert(b.getDouble(3) == 0.0 && b.isNullAt(4) && b.isNullAt(5))
  }
}
