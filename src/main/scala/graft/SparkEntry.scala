package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{AsOfJoin, Dedup, Multimodal, RangeJoin, Relational, Similarity, TimeSeries}
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has a matching ANSI-SQL oracle in [[oracleSql]]
  * (DuckDB-runnable over the same parquet tables) unless the operator is not
  * SQL-expressible, in which case the driver records a rows-only check.
  *
  * Determinism rules (so the DuckDB compare hash-matches):
  *  - timestamps leave the engine as epoch-microsecond BIGINTs (`ts_us`);
  *  - double sums/averages go through exact DECIMAL(18,2) accumulation
  *    (order-independent) before casting back to double;
  *  - every LIMIT is preceded by a total-order ORDER BY.
  */
object SparkEntry {

  // Shared query constants (mirrored verbatim in the oracle SQL below).
  private val RangeStart = "2024-01-05 00:00:00"
  private val RangeEnd   = "2024-01-12 00:00:00"
  private val LimitCap   = 500
  private val ShipBefore = "2000-01-01 00:00:00"
  private val NgramN        = 3
  private val LttbOut       = 50
  private val MinJaccard    = 0.3
  // Shingle DF cap for q_ngram_jaccard, set LOW so the cap path actually
  // engages at verify scale (sf0.01 max df is 7; cap=5 drops ~29 shingles
  // there and ~24.5k at sf0.1). Production callers use the operator default
  // (Dedup.DefaultShingleDfCap); the oracle SQL mirrors this constant.
  private val NgramDfCap    = 5L
  // q_jaccard_prefix threshold as an exact rational (= MinJaccard): the
  // prefix length is integer arithmetic off tNum/tDen
  private val JaccardTNum   = 3
  private val JaccardTDen   = 10
  private val CosineMinSim  = 0.3
  private val TopKSim       = 10
  private val QueryVecId    = 0L
  private val IvfCentroids  = 8
  private val IvfProbe      = 2
  // personalized-PageRank seed nodes (customers 1 and 2 → ids 2k) and
  // their fixed-point teleport constants, shared verbatim by the oracle
  private val PprSeeds  = Seq(2L, 4L)
  private val PprSeedFx = operators.Graph.OneFx / PprSeeds.size
  private val PprBaseFx = (BigInt(1500) * operators.Graph.OneFx /
    (BigInt(10000) * PprSeeds.size)).toLong
  private val TopTermsK     = 3
  private val StratifiedK   = 20
  private val BatchQueryIds = Seq(0L, 1L, 2L)
  private val ChunkTokens   = 32
  private val ChunkOverlap  = 8
  private val PackTokens    = 512L
  private val PackBuckets   = 8
  // M4 downsample pixel width (shared verbatim by the oracle)
  private val M4Width = 100
  // alert threshold in cents (60.00) and hold duration in hours
  private val AlertCents    = 6000L
  private val AlertForHours = 3
  // harmonic-centrality seeds in the customer(×2)/supplier(×2+1) node id
  // space: customers 2 and 4, supplier 1 — shared verbatim by the oracle
  private val HarmonicSeeds = Seq(4L, 8L, 3L)
  private val HarmonicHops  = 6
  // BM25 retrieval constants: terms present in the synthetic corpus; the
  // oracle mirrors the log-free rational idf (see TextAnalysis.bm25)
  private val Bm25Terms = Seq("spark", "hash", "window")
  private val Bm25K1    = 1.2
  private val Bm25B     = 0.75
  private val Bm25TopK  = 20
  // vocab small enough that OOV is non-empty on the ~30-term synthetic
  // vocabulary (production: 32k-128k)
  private val VocabK    = 20

  /** documents with every row duplicated under a shifted doc_id — the dedup
    * queries' input, so exact-dedup actually collapses something. */
  private def doubledDocs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text")))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TimeSeries.rangeScan(
      Tables.events(spark, "/root/testdata/sf0.001"), RangeStart, RangeEnd)

  /** Register every declared query as a temp view over `dir`, making the
    * whole operator surface SQL-callable interactively:
    * {{{ spark.sql("SELECT * FROM q_range_scan WHERE value > 0") }}}
    * Views are lazy plans — nothing executes until queried (the two IVF
    * entries collect their literal centroids at registration; everything
    * else is pure plan construction). Pair with `GraftExtensions`
    * (spark.sql.extensions=graft.functions.GraftExtensions) for the
    * graft_dot / graft_cosine / graft_double_bits SQL functions and the
    * native as-of strategy.
    *
    * `global = true` publishes to `global_temp` instead — the serving
    * mode: a Thrift JDBC connection runs in its OWN Spark session, and
    * global temp views are the cross-session publication mechanism, so
    * `SELECT * FROM global_temp.q_range_scan` works from any JDBC
    * client once `HiveThriftServer2.startWithContext` is up. */
  def registerViews(spark: SparkSession, dir: String,
      global: Boolean = false): Unit =
    queries.foreach { case (name, fn) =>
      val df = fn(spark, dir)
      if (global) df.createOrReplaceGlobalTempView(name)
      else df.createOrReplaceTempView(name)
    }

  /** The declared query `name`. An unknown name fails loudly, listing the
    * valid ones. */
  def query(name: String): (SparkSession, String) => DataFrame = {
    val all = queries
    all.getOrElse(name, throw new IllegalArgumentException(
      s"unknown query $name; valid names: ${all.keys.toSeq.sorted.mkString(", ")}"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- reference-fidelity core (SURVEY §2.1 O2-O6 + §2.2 window ops) ---
    "q_range_scan" -> ((s, dir) =>
      TimeSeries.rangeScan(Tables.events(s, dir), RangeStart, RangeEnd)),
    "q_range_scan_limit" -> ((s, dir) =>
      TimeSeries.rangeScanLimit(Tables.events(s, dir), RangeStart, RangeEnd, LimitCap)),
    // count/min/max over the range — the shape Snapshot.rangeStats
    // answers from manifest zmap3 stats on a snapshot store (r15); this
    // declared twin over the raw events table carries the oracle
    "q_range_stats" -> ((s, dir) =>
      TimeSeries.rangeStats(Tables.events(s, dir), RangeStart, RangeEnd)),
    "q_shard_prune" -> ((s, dir) =>
      TimeSeries.shardPrune(Tables.events(s, dir))),
    "q_downsample_1h" -> ((s, dir) =>
      TimeSeries.downsample1h(Tables.events(s, dir))),
    "q_gap_fill" -> ((s, dir) =>
      TimeSeries.gapFill(Tables.events(s, dir))),
    "q_gap_interp" -> ((s, dir) =>
      TimeSeries.gapFillInterp(Tables.events(s, dir))),
    "q_window_delta" -> ((s, dir) =>
      TimeSeries.windowDelta(Tables.events(s, dir))),
    "q_moving_avg" -> ((s, dir) =>
      TimeSeries.movingAvg(Tables.events(s, dir))),
    "q_ohlc" -> ((s, dir) =>
      TimeSeries.ohlcBars(Tables.events(s, dir))),
    // M4 min/max/first/last-per-pixel downsample (error-free line charts)
    "q_m4" -> ((s, dir) =>
      TimeSeries.m4(Tables.events(s, dir), M4Width)),
    // PromQL-style `for:` alerting: hourly mean > 60.00 held ≥ 3 hours
    "q_alert_for" -> ((s, dir) =>
      TimeSeries.alertFor(Tables.events(s, dir), AlertCents, AlertForHours)),
    // trailing-24h Pearson correlation of click vs view hourly volumes
    "q_rolling_corr" -> ((s, dir) =>
      TimeSeries.rollingCorr(Tables.events(s, dir), "click", "view", 24)),
    // multi-pair form: one partitioned window over three monitors at once
    "q_rolling_corr_pairs" -> ((s, dir) =>
      TimeSeries.rollingCorr(Tables.events(s, dir),
        Seq(("click", "view"), ("purchase", "error"), ("signup", "click")),
        24)),
    "q_counter_rate" -> ((s, dir) =>
      TimeSeries.counterRate(Tables.events(s, dir))),
    "q_cumsum" -> ((s, dir) =>
      TimeSeries.cumSum(Tables.events(s, dir))),
    // measured-skew dispatch for the raw-event series family (r12):
    // plain single-window vs blocked (bounded partitions + boundary
    // repair) from the sampled hottest-SERIES share, bit-identical
    // either way — oracles shared with the plain forms (adaptiveTwins)
    "q_window_delta_adaptive" -> ((s, dir) =>
      TimeSeries.windowDeltaAdaptive(Tables.events(s, dir))),
    "q_moving_avg_adaptive" -> ((s, dir) =>
      TimeSeries.movingAvgAdaptive(Tables.events(s, dir))),
    "q_counter_rate_adaptive" -> ((s, dir) =>
      TimeSeries.counterRateAdaptive(Tables.events(s, dir))),
    "q_cumsum_adaptive" -> ((s, dir) =>
      TimeSeries.cumSumAdaptive(Tables.events(s, dir))),
    "q_time_weighted_avg_adaptive" -> ((s, dir) =>
      TimeSeries.timeWeightedAvgAdaptive(Tables.events(s, dir))),
    "q_availability_adaptive" -> ((s, dir) =>
      TimeSeries.availabilityAdaptive(Tables.events(s, dir), 1800000000L)),
    "q_series_align" -> ((s, dir) =>
      TimeSeries.seriesAlign(Tables.events(s, dir), "purchase", "error")),
    "q_xcorr_lag" -> ((s, dir) =>
      TimeSeries.xcorrLag(Tables.events(s, dir), "purchase", "error", 1)),
    // autocorrelation diagnostic: lag 1..6 self-Pearson of the hourly
    // purchase series — one facts scan, then bucket-sized self-joins
    "q_acf" -> ((s, dir) =>
      TimeSeries.acf(Tables.events(s, dir), "purchase", 6)),
    // trailing 1h per-(type, user) rolling sum/count over irregular
    // samples — the RANGE time-frame ROWS windows can't express
    "q_rolling_range" -> ((s, dir) =>
      TimeSeries.trailingWindow(Tables.events(s, dir), 3600000000L)),
    "q_quantiles" -> ((s, dir) =>
      Relational.quantilesByType(Tables.events(s, dir))),
    "q_hourly_active" -> ((s, dir) =>
      TimeSeries.hourlyActive(Tables.events(s, dir))),
    "q_retention_cohorts" -> ((s, dir) =>
      TimeSeries.retentionCohorts(Tables.events(s, dir))),
    "q_profile" -> ((s, dir) =>
      Relational.profileColumns(Tables.documents(s, dir),
        Seq("lang", "source", "n_chars"))),
    // merged 7-day purchase windows per customer: overlap-union, not
    // gap-sessionization
    "q_merge_intervals" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      Relational.mergeIntervals(orders.select(
        col("o_custkey").as("key"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("start_us"),
        (unix_micros(col("o_orderdate").cast("timestamp")) +
          lit(7L * 86400000000L)).as("end_us")))
    }),
    "q_topk_hours" -> ((s, dir) =>
      TimeSeries.topkHours(Tables.events(s, dir), 5)),
    "q_sessionize" -> ((s, dir) =>
      TimeSeries.sessionize(Tables.events(s, dir), 1800000000L)),
    // skew-proof variant: (user, time-block) local windows + session-level
    // stitch — identical output, hot-user parallelism = block count
    "q_sessionize_blocked" -> ((s, dir) =>
      TimeSeries.sessionizeBlocked(Tables.events(s, dir), 1800000000L,
        operators.Blocks.session(1800000000L))),
    // measured-skew dispatch (r11): plain vs blocked chosen from the
    // sampled hottest-user share, zero caller hints, bit-identical output
    "q_sessionize_adaptive" -> ((s, dir) =>
      TimeSeries.sessionizeAdaptive(Tables.events(s, dir), 1800000000L)),
    // the NATIVE session_window operator (half-open [ts, ts+gap) merge)
    "q_session_native" -> ((s, dir) =>
      TimeSeries.sessionizeNative(Tables.events(s, dir), 1800000000L)),
    // concurrency detection: per customer, which finished orders' 7-day
    // fulfillment windows overlapped a concurrently-open order — grid-cell
    // interval × interval join, each pair emitted exactly once in its
    // first common cell (no dedup shuffle)
    "q_interval_overlap" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      def iv(cond: Column) = orders.filter(cond).select(
        col("o_custkey").as("key"), col("o_orderkey").as("id"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("start_us"),
        (unix_micros(col("o_orderdate").cast("timestamp")) +
          lit(7L * 86400000000L)).as("end_us"))
      operators.RangeJoin.intervalOverlapJoin(
        iv(col("o_orderstatus") === "F"), iv(col("o_orderstatus") =!= "F"),
        7L * 86400000000L)
    }),
    // how sessions OPEN: top 20 three-step type prefixes of 30-min-gap
    // sessions (path mining; funnel/Markov can't express ordered prefixes)
    "q_session_paths" -> ((s, dir) =>
      operators.Analytics.sessionPaths(Tables.events(s, dir), 1800000000L,
        depth = 3, topK = 20)),
    // skew-proof variant: block-local prefixes + session-level stitch
    "q_session_paths_blocked" -> ((s, dir) =>
      operators.Analytics.sessionPathsBlocked(Tables.events(s, dir),
        1800000000L, depth = 3, topK = 20, operators.Blocks.session(1800000000L))),
    // measured-skew dispatch (r12, closing the adaptive family): plain vs
    // blocked from the sampled hottest-user share, zero caller hints
    "q_session_paths_adaptive" -> ((s, dir) =>
      operators.Analytics.sessionPathsAdaptive(Tables.events(s, dir),
        1800000000L, depth = 3, topK = 20)),
    // historian-style time-weighted mean over irregular samples
    "q_time_weighted_avg" -> ((s, dir) =>
      TimeSeries.timeWeightedAvg(Tables.events(s, dir))),
    // gap SLA report at a 30-min expected cadence
    "q_availability" -> ((s, dir) =>
      TimeSeries.availability(Tables.events(s, dir), 1800000000L)),
    // arrival-process shape per type: CV and Goh–Barabási burstiness
    // from exact integer gap moments
    "q_interarrival" -> ((s, dir) =>
      TimeSeries.interarrivalStats(Tables.events(s, dir))),
    // reporting staple: monthly revenue joined on (year-1, month) —
    // missing months can't mispair (no lag(12) row offset)
    "q_yoy_growth" -> ((s, dir) =>
      Relational.yoyGrowth(Tables.lineitem(s, dir))),
    "q_sliding_window" -> ((s, dir) =>
      TimeSeries.slidingWindowAgg(Tables.events(s, dir), "15 minutes", "5 minutes")),
    "q_ewma" -> ((s, dir) =>
      TimeSeries.ewma(Tables.events(s, dir), 0.1, 0.9)),
    // Gorilla-codec byte footprint of each hour shard (reference
    // shard.cpp:107-126 semantics) — needs raw double bit patterns, which
    // SQL can't express → rows-only check + golden ScalaTest vs a direct
    // codec transcription (GorillaFootprintSpec).
    "q_gorilla_footprint" -> ((s, dir) =>
      TimeSeries.gorillaFootprint(Tables.events(s, dir))),
    // The codec's TIMESTAMP stream alone (varint of raw-ms first point,
    // varint of zigzag delta-of-delta after) IS pure integer arithmetic
    // — so this projection of the footprint carries a full DuckDB oracle
    "q_gorilla_footprint_ts" -> ((s, dir) =>
      TimeSeries.gorillaFootprint(Tables.events(s, dir))
        .select(col("shard_hour"), col("n_points"), col("ts_bytes"))),
    "q_asof_tolerance" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("value"))
      val tolUs = 7200000000L // only match errors at most 2h old
      val base = AsOfJoin.asOf(purchases, errors, "user_id", "ts",
        Seq("ts" -> "err_ts", "value" -> "err_value"))
      val inTol = unix_micros(col("err_ts")) >= unix_micros(col("ts")) - tolUs
      base.select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        when(inTol, unix_micros(col("err_ts"))).as("err_ts_us"),
        when(inTol, col("err_value")).as("err_value"))
    }),

    // --- relational extension surface (SURVEY §2.2) ---
    "q_tpch_pricing" -> ((s, dir) =>
      Relational.pricingSummary(Tables.lineitem(s, dir), ShipBefore)),
    "q_tpch_q3" -> ((s, dir) =>
      Relational.shippingPriority(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir), "BUILDING", "1998-01-01 00:00:00")),
    "q_tpch_q6" -> ((s, dir) =>
      Relational.forecastRevenue(Tables.lineitem(s, dir), 1996, 0.02, 0.04, 24.0)),
    "q_tpch_q14" -> ((s, dir) =>
      Relational.promoRevenueShare(Tables.lineitem(s, dir), Tables.part(s, dir),
        "1997-09-01 00:00:00", "1997-10-01 00:00:00")),
    "q_tpch_q10" -> ((s, dir) =>
      Relational.returnedItemRevenue(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir), Tables.nation(s, dir),
        "1997-01-01 00:00:00", "1997-04-01 00:00:00")),
    "q_tpch_q18" -> ((s, dir) =>
      Relational.largeVolumeCustomers(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir), 150.0)),
    "q_pagerank" -> ((s, dir) =>
      operators.Graph.pageRank(
        operators.Graph.customerSupplierEdges(
          Tables.orders(s, dir), Tables.lineitem(s, dir)),
        iters = 3, damping = 0.85, symmetric = true)
        .orderBy(col("pr").desc, col("node")).limit(20)),
    // personalized variant: teleport to two seed customers — the
    // "related to THESE" local ranking; frontier-sparse by construction
    "q_ppr" -> ((s, dir) =>
      operators.Graph.personalizedPageRank(
        operators.Graph.customerSupplierEdges(
          Tables.orders(s, dir), Tables.lineitem(s, dir)),
        PprSeeds, iters = 3, damping = 0.85)
        .orderBy(col("pr").desc, col("node")).limit(30)),
    // frontier BFS from two seed customers: shortest hop distance over
    // the same co-transaction graph, capped at 3 hops
    "q_bfs_hops" -> ((s, dir) =>
      operators.Graph.bfsHops(
        operators.Graph.customerSupplierEdges(
          Tables.orders(s, dir), Tables.lineitem(s, dir)),
        Seq(4L, 8L), maxHops = 3)),
    // degree distribution of the part co-purchase graph (power-law /
    // hub check; ≤ max-degree output rows)
    "q_degree_dist" -> ((s, dir) =>
      operators.Graph.degreeDistribution(
        operators.Graph.partCoPurchasePairs(Tables.lineitem(s, dir)))),
    // sampled-seed harmonic centrality: exact multi-source BFS, ×60
    // integer reciprocals (exact for d ≤ 6), top-20 most-central nodes
    "q_harmonic" -> ((s, dir) =>
      operators.Graph.harmonicCentrality(
        operators.Graph.customerSupplierEdges(
          Tables.orders(s, dir), Tables.lineitem(s, dir)),
        HarmonicSeeds, maxHops = HarmonicHops, topK = 20)),
    // exact triangle census of the part co-purchase graph — the
    // degree-ordered orientation keeps the wedge join O(|E|^1.5)
    "q_triangles" -> ((s, dir) =>
      operators.Graph.triangleStats(
        operators.Graph.partCoPurchasePairs(Tables.lineitem(s, dir)))),
    // 80-core of the part co-purchase graph: six peel rounds cascade to
    // the dense backbone (early exit once the edge count stabilizes)
    "q_kcore" -> ((s, dir) =>
      operators.Graph.kCore(
        operators.Graph.symmetricEdges(
          operators.Graph.partCoPurchasePairs(Tables.lineitem(s, dir))),
        k = 80, maxRounds = 6)),
    // "suppliers serving the same customers": RA-weighted link
    // prediction over the customer→supplier interaction set — the
    // wedge fan-out rides the BOUNDED side (customer degree), so no
    // supplier hub ever quadratically explodes
    "q_link_ra" -> ((s, dir) =>
      operators.Graph.resourceAllocation(
        Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("z"), col("l_suppkey").as("s")),
        maxDegree = 1000, topK = 50)),
    // degree-mixing profile of the co-purchase graph: one exact-moment
    // Pearson over the directed edge endpoint degrees
    "q_assortativity" -> ((s, dir) =>
      operators.Graph.degreeAssortativity(
        operators.Graph.partCoPurchasePairs(Tables.lineitem(s, dir)))),
    // neighborhood-density ranking: top-50 nodes by local clustering
    // coefficient — same O(|E|^1.5) oriented wedge census as
    // q_triangles, but corner-credited per node
    "q_local_clustering" -> ((s, dir) =>
      operators.Graph.localClustering(
        operators.Graph.partCoPurchasePairs(Tables.lineitem(s, dir)),
        minDeg = 2L, topK = 50)),
    // community sizes after two synchronous LPA rounds (min-label ties
    // — deterministic, oracle-replayable; async LPA is not)
    // Newman modularity terms of the 2-round LPA communities
    // r15: one shared pair checkpoint feeds both the LPA loop and the
    // modularity pass (the old shape materialized the lineitem
    // self-join + distinct twice — separate checkpoints, no reuse)
    "q_modularity" -> ((s, dir) =>
      operators.Graph.modularityOfLabelProp(
        operators.Graph.partCoPurchasePairs(Tables.lineitem(s, dir)),
        rounds = 2)),
    "q_label_prop" -> ((s, dir) =>
      operators.Graph.labelPropagation(
        operators.Graph.symmetricEdges(
          operators.Graph.partCoPurchasePairs(Tables.lineitem(s, dir))),
        rounds = 2)
        .groupBy(col("lab")).agg(count(lit(1)).as("n_members"))
        .select(col("lab").as("label"), col("n_members"))
        .orderBy(col("n_members").desc, col("label")).limit(20)),
    // cheapest affinity path within 3 hops of the Brand#1 seed set —
    // min-plus relaxation over exact integer 10^12 div cnt weights
    "q_sssp" -> ((s, dir) => {
      val cw = operators.Graph.coPurchaseWeights(Tables.lineitem(s, dir))
      val edges = cw.select(col("u").as("src"), col("v").as("dst"), col("w"))
        .unionByName(
          cw.select(col("v").as("src"), col("u").as("dst"), col("w")))
      val seeds = Tables.part(s, dir).filter(col("p_brand") === "Brand#1")
        .select(col("p_partkey").as("node"))
      operators.Graph.sssp(edges, seeds, 3)
    }),
    "q_tpch_q21" -> ((s, dir) =>
      Relational.loneFlaggedSuppliers(Tables.supplier(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir), 20)),
    "q_tpch_q4" -> ((s, dir) =>
      Relational.orderPriorityCheck(Tables.orders(s, dir), Tables.lineitem(s, dir),
        "1997-01-01 00:00:00", "1997-04-01 00:00:00")),
    "q_tpch_q7" -> ((s, dir) =>
      Relational.nationVolumeShipping(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir),
        "NATION_1", "NATION_2")),
    "q_tpch_q12" -> ((s, dir) =>
      Relational.lineStatusPriorityMix(Tables.lineitem(s, dir), Tables.orders(s, dir), 1997)),
    "q_tpch_q13" -> ((s, dir) =>
      Relational.customerOrderDistribution(Tables.customer(s, dir), Tables.orders(s, dir),
        "4-NOT SPECIFIED")),
    "q_tpch_q15" -> ((s, dir) =>
      Relational.topSupplierRevenue(Tables.lineitem(s, dir), Tables.supplier(s, dir),
        "1997-01-01 00:00:00", "1997-04-01 00:00:00")),
    "q_tpch_q17" -> ((s, dir) =>
      Relational.smallQuantityRevenue(Tables.lineitem(s, dir), Tables.part(s, dir),
        "Brand#11")),
    "q_tpch_q19" -> ((s, dir) =>
      Relational.bracketedRevenue(Tables.lineitem(s, dir), Tables.part(s, dir))),
    "q_tpch_q22" -> ((s, dir) =>
      Relational.idleRichCustomers(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.nation(s, dir), Seq(1, 3, 5, 7, 9, 11, 13))),
    "q_tpch_q8" -> ((s, dir) =>
      Relational.nationMarketShare(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir),
        Tables.region(s, dir), "NATION_3", "ASIA")),
    "q_tpch_q5" -> ((s, dir) =>
      Relational.localSupplierVolume(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir),
        Tables.region(s, dir), "ASIA", "1997-01-01 00:00:00", "1998-01-01 00:00:00")),
    "q_tpch_q9" -> ((s, dir) =>
      Relational.productTypeProfit(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir), Tables.part(s, dir),
        "PROMO")),
    "q_tpch_q2" -> ((s, dir) =>
      Relational.minCostSupplier(Tables.lineitem(s, dir), Tables.part(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir), Tables.region(s, dir),
        15, "ECONOMY", "EUROPE", 100)),
    "q_tpch_q11" -> ((s, dir) =>
      Relational.importantPartValue(Tables.lineitem(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir), "NATION_7", 1000, 100)),
    "q_tpch_q16" -> ((s, dir) =>
      Relational.supplierCountByPartAttrs(Tables.lineitem(s, dir),
        Tables.part(s, dir), Tables.supplier(s, dir), "Brand#1", "PROMO",
        Seq(1, 4, 7, 10, 15, 22, 29, 36), 100)),
    "q_tpch_q20" -> ((s, dir) =>
      Relational.excessShippers(Tables.lineitem(s, dir), Tables.part(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir), "small", 1996, 500)),
    "q_transition_matrix" -> ((s, dir) =>
      operators.Analytics.transitionMatrix(Tables.events(s, dir))),
    // measured-skew dispatch (r12): plain vs blocked-adjacency from the
    // sampled hottest-user share, zero caller hints, bit-identical output
    "q_transition_matrix_adaptive" -> ((s, dir) =>
      operators.Analytics.transitionMatrixAdaptive(Tables.events(s, dir))),
    "q_lttb" -> ((s, dir) =>
      TimeSeries.lttb(Tables.events(s, dir), LttbOut)),
    "q_join_segment_revenue" -> ((s, dir) =>
      Relational.segmentRevenue(Tables.orders(s, dir), Tables.customer(s, dir))),
    "q_star_join_region" -> ((s, dir) =>
      Relational.regionNationRevenue(
        Tables.lineitem(s, dir), Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir), Tables.region(s, dir), "ASIA")),
    "q_theta_band" -> ((s, dir) =>
      Relational.thetaBandCounts(Tables.customer(s, dir), Tables.region(s, dir))),
    "q_topk_per_group" -> ((s, dir) =>
      Relational.topKPerSegment(Tables.orders(s, dir), Tables.customer(s, dir), 3)),
    "q_mode" -> ((s, dir) =>
      Relational.modeOrderPriority(Tables.orders(s, dir))),
    "q_semi_join" -> ((s, dir) =>
      Relational.customersWithOrders(Tables.customer(s, dir), Tables.orders(s, dir))),
    "q_anti_join" -> ((s, dir) =>
      Relational.customersWithoutOrders(Tables.customer(s, dir), Tables.orders(s, dir), "P")),
    "q_rollup" -> ((s, dir) =>
      Relational.rollupQty(Tables.lineitem(s, dir))),
    "q_cube" -> ((s, dir) =>
      Relational.cubeOrders(Tables.orders(s, dir))),
    "q_except" -> ((s, dir) =>
      Relational.exceptCustkeys(Tables.customer(s, dir), Tables.orders(s, dir), "P")),
    "q_intersect" -> ((s, dir) =>
      Relational.intersectCustkeys(Tables.customer(s, dir), Tables.orders(s, dir))),
    "q_topk_orders" -> ((s, dir) =>
      Relational.topkOrders(Tables.orders(s, dir), 10)),
    "q_json_extract" -> ((s, dir) =>
      Relational.jsonKeyDistribution(Tables.events(s, dir))),
    "q_json_struct" -> ((s, dir) =>
      Relational.jsonStructStats(Tables.events(s, dir))),
    "q_map_funcs" -> ((s, dir) =>
      TextAnalysis.mapClassCounts(Tables.documents(s, dir))),
    "q_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("value"))
      AsOfJoin.asOf(purchases, errors, "user_id", "ts",
          Seq("ts" -> "err_ts", "value" -> "err_value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("err_ts")).as("err_ts_us"),
          col("err_value"))
    }),

    "q_asof_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("value"))
      AsOfJoin.asOfForward(purchases, errors, "user_id", "ts",
          Seq("ts" -> "next_ts", "value" -> "next_value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("next_ts")).as("next_ts_us"),
          col("next_value"))
    }),
    "q_asof_nearest" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("value"))
      AsOfJoin.asOfNearest(purchases, errors, "user_id", "ts",
          Seq("ts" -> "near_ts", "value" -> "near_value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("near_ts")).as("near_ts_us"),
          col("near_value"))
    }),

    // same semantics as q_asof_join, through the NATIVE custom operator
    // (AsOfJoinPlan + AsOfJoinStrategy + AsOfJoinExec) — same DuckDB oracle
    "q_asof_native" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id").as("r_user_id"), col("ts").as("err_ts"),
          col("value").as("err_value"))
      graft.plans.AsOfJoinNative
        .asOf(purchases, errors, "user_id", "r_user_id", "ts", "err_ts")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("err_ts")).as("err_ts_us"),
          col("err_value"))
    }),

    // --- training-data pipeline surface: text analysis ---
    "q_text_stats" -> ((s, dir) =>
      TextAnalysis.textStats(Tables.documents(s, dir))),
    "q_token_count" -> ((s, dir) =>
      TextAnalysis.tokenCount(Tables.documents(s, dir))),
    "q_lang_id" -> ((s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir))),
    "q_quality_score" -> ((s, dir) =>
      TextAnalysis.qualityScore(Tables.documents(s, dir))),
    "q_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(Tables.documents(s, dir))),
    "q_top_terms" -> ((s, dir) =>
      TextAnalysis.topTerms(Tables.documents(s, dir), TopTermsK)),
    "q_heavy_hitters" -> ((s, dir) =>
      TextAnalysis.heavyHitters(Tables.documents(s, dir), 20)),
    // lexical retrieval: log-free BM25 top-k for a fixed query-term bag
    "q_bm25" -> ((s, dir) =>
      TextAnalysis.bm25(Tables.documents(s, dir), Bm25Terms, Bm25K1, Bm25B, Bm25TopK)),
    // n-gram-LM-style quality score: corpus-bigram familiarity per doc
    "q_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramFamiliarity(Tables.documents(s, dir))),
    // tokenizer-vocab planning: OOV rate per source at a top-V vocabulary
    "q_vocab_coverage" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(Tables.documents(s, dir), VocabK)),
    // corpus balance: Gini–Simpson diversity of sources within each lang
    "q_source_simpson" -> ((s, dir) =>
      TextAnalysis.sourceSimpson(Tables.documents(s, dir))),

    // --- training-data pipeline surface: dedup ---
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(doubledDocs(s, dir))),
    "q_dedup_keep_first" -> ((s, dir) =>
      Dedup.exactKeepFirst(doubledDocs(s, dir))),
    "q_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), NgramN, MinJaccard, NgramDfCap)),
    "q_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir), NgramN, MinJaccard)),
    // EXACT set-similarity join via prefix filtering: same pair set as a
    // brute-force pairwise join (the oracle IS brute force), no DF cap
    "q_jaccard_prefix" -> ((s, dir) =>
      Dedup.prefixJaccardPairs(Tables.documents(s, dir), NgramN,
        JaccardTNum, JaccardTDen)),
    // sketch-quality eval: signature-estimated vs exact Jaccard per LSH
    // candidate pair (sizes k and the banding before trusting the sketch)
    "q_minhash_est" -> ((s, dir) =>
      Dedup.minhashEstimatorEval(Tables.documents(s, dir), NgramN)),
    "q_simhash" -> ((s, dir) =>
      Dedup.simhash(Tables.documents(s, dir))),
    "q_simhash_neardup" -> ((s, dir) =>
      Dedup.simhashNearDupPairs(Tables.documents(s, dir), 4)),
    // transitive closure of the near-dup relation → dedup groups
    "q_dedup_clusters" -> ((s, dir) =>
      Dedup.dedupClusters(Dedup.simhashNearDupPairs(Tables.documents(s, dir), 4))),
    // one representative per near-dup cluster (longest doc, id tiebreak)
    "q_canonical_docs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.canonicalDocs(
        Dedup.dedupClusters(Dedup.simhashNearDupPairs(docs, 4)), docs)
    }),
    // deterministic 10% sample + split counts (reproducible across engines)
    "q_hash_sample" -> ((s, dir) =>
      operators.Sampling.hashSample(Tables.documents(s, dir), "doc_id", 10)
        .select(col("doc_id"), col("lang"))),
    "q_hash_split" -> ((s, dir) =>
      operators.Sampling.hashSplit(Tables.documents(s, dir), "doc_id", 80, 10)
        .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))),
    "q_split_drift" -> ((s, dir) =>
      operators.Sampling.splitDrift(Tables.documents(s, dir), "doc_id", "source", 80, 10)),
    // numeric drift twin: per-bucket chi-square homogeneity terms of
    // doc length between the train and val splits (50-char buckets)
    "q_chisq_drift" -> ((s, dir) =>
      operators.Sampling.chiSquareDrift(
        Tables.documents(s, dir), "doc_id", "n_chars", 80, 10, 50L)),
    "q_stratified_sample" -> ((s, dir) =>
      operators.Sampling.stratifiedSample(
        Tables.events(s, dir), "event_type", "event_id", StratifiedK)
        .select(col("event_id"), col("event_type"), col("user_id"), col("rk"))),
    "q_chunk_docs" -> ((s, dir) =>
      TextAnalysis.chunkDocs(Tables.documents(s, dir), ChunkTokens, ChunkOverlap)),
    "q_pack_sequences" -> ((s, dir) =>
      TextAnalysis.packSequences(Tables.documents(s, dir), PackTokens, PackBuckets)),
    // split-integrity QA: content hashes assigned to MORE THAN ONE split by
    // the id-keyed splitter (the doubled corpus plants exact dups across
    // ids, so this count is the measured train/test leakage)
    "q_split_leakage" -> ((s, dir) =>
      operators.Sampling.hashSplit(doubledDocs(s, dir), "doc_id", 80, 10)
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(countDistinct(col("split")).as("n_splits"))
        .filter(col("n_splits") > 1)
        .agg(count(lit(1)).as("n_leaked_hashes"))),

    // --- training-data pipeline surface: similarity search ---
    "q_similarity_topk" -> ((s, dir) =>
      Similarity.cosineTopK(Tables.embeddings(s, dir), QueryVecId, TopKSim)),
    "q_sim_topk_batch" -> ((s, dir) =>
      Similarity.cosineTopKBatch(Tables.embeddings(s, dir), BatchQueryIds, TopKSim)),
    "q_embedding_neardup" -> ((s, dir) =>
      Similarity.nearDupPairs(Tables.embeddings(s, dir), "label", CosineMinSim)),
    // semantic dedup: connected components over the embedding near-dup
    // relation (the embedding-space twin of q_dedup_clusters)
    "q_semantic_clusters" -> ((s, dir) =>
      Dedup.dedupClusters(
        Similarity.nearDupPairs(Tables.embeddings(s, dir), "label", CosineMinSim)
          .select(col("vec_id_1").as("doc_id_1"), col("vec_id_2").as("doc_id_2")))
        .select(col("doc_id").as("vec_id"), col("cluster_id"))),
    // index-quality eval: recall@k of the LSH-ANN path vs the exact dense
    // top-k, per batch query — run before trusting an approximate index
    "q_ann_recall" -> ((s, dir) =>
      Similarity.annRecall(Tables.embeddings(s, dir), BatchQueryIds, 4, TopKSim)),
    // approximate ANN path — the hyperplanes are md5-derived, so even this
    // "approximate" query is deterministic and has a full DuckDB oracle.
    "q_ann_topk" -> ((s, dir) =>
      Similarity.annTopK(Tables.embeddings(s, dir), QueryVecId, 4, TopKSim)),
    // hybrid retrieval: RRF late-fusion of the exact dense top-k and the
    // LSH-bucket ANN top-k — rank-only, exact integer reciprocal weights
    "q_rrf_fusion" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.rrfFusion(Seq(
        Similarity.cosineTopK(emb, QueryVecId, TopKSim),
        Similarity.annTopK(emb, QueryVecId, 4, TopKSim)), 60, TopKSim)
    }),
    // IVF ANN path: deterministic seed centroids, nProbe-cluster search
    "q_ivf_topk" -> ((s, dir) =>
      Similarity.ivfAnnTopK(Tables.embeddings(s, dir), QueryVecId,
        IvfCentroids, IvfProbe, TopKSim)),
    // Lloyd-refined IVF, oracled at the refinement STATE: flat
    // (cid, n, dim, sum_dec) rows of the final step's exact decimal
    // coordinate sums — DuckDB replays seed-assign → decimal sums →
    // one mean conversion → re-assign bit-for-bit. The search over the
    // refined centroids stays gated by SimilarityRefinedSpec (objective
    // monotonicity, determinism, recall, shuffle-free serving plan).
    "q_ivf_refined" -> ((s, dir) =>
      Similarity.ivfRefinedCentroidRows(Tables.embeddings(s, dir),
        IvfCentroids, iters = 2)),

    // --- multimodal column plumbing (decode is a deterministic stub) ---
    "q_multimodal_meta" -> ((s, dir) =>
      Multimodal.mediaMeta(Multimodal.mediaFromDocs(Tables.documents(s, dir)))),
    "q_media_features" -> ((s, dir) =>
      Multimodal.extractFeatures(s,
        Multimodal.mediaFromDocs(Tables.documents(s, dir))).toDF()),
    "q_media_resize" -> ((s, dir) =>
      Multimodal.resizeStub(
        Multimodal.mediaFromDocs(Tables.documents(s, dir)), 32)),
    // frames leave the engine hex-encoded: the driver's pandas compare
    // can't sort/hash raw binary cells (round-1 oracle error)
    "q_frame_sample" -> ((s, dir) =>
      Multimodal.frameSample(
        Multimodal.mediaFromDocs(Tables.documents(s, dir)), 4, 16)
        .select(col("media_id"), col("frame_idx"),
          hex(col("frame")).as("frame_hex"))),

    // --- extended relational / scalar-function surface ---
    "q_distinct_users" -> ((s, dir) =>
      Relational.distinctUsers(Tables.events(s, dir))),
    "q_stats_agg" -> ((s, dir) =>
      Relational.statsAgg(Tables.events(s, dir))),
    "q_correlation" -> ((s, dir) =>
      Relational.corrStats(Tables.lineitem(s, dir))),
    "q_date_parts" -> ((s, dir) =>
      Relational.datePartsAgg(Tables.events(s, dir))),
    "q_string_funcs" -> ((s, dir) =>
      Relational.stringFuncs(Tables.documents(s, dir))),
    "q_union_tagged" -> ((s, dir) =>
      Relational.unionTagged(Tables.events(s, dir))),
    "q_pivot" -> ((s, dir) =>
      Relational.pivotCounts(Tables.events(s, dir))),
    "q_histogram" -> ((s, dir) =>
      Relational.histogram(Tables.events(s, dir), 50.0)),
    "q_grouping_sets" -> ((s, dir) =>
      Relational.groupingSetsQty(Tables.lineitem(s, dir))),
    "q_median_by_type" -> ((s, dir) =>
      Relational.medianByType(Tables.events(s, dir))),
    "q_order_ranks" -> ((s, dir) =>
      Relational.orderRanks(Tables.orders(s, dir), 100)),
    "q_first_last_window" -> ((s, dir) =>
      Relational.firstLastWindow(Tables.events(s, dir))),
    "q_salted_agg" -> ((s, dir) =>
      Relational.saltedSumByType(Tables.events(s, dir), 8)),
    "q_range_join" -> ((s, dir) => {
      val err = Tables.events(s, dir).filter(col("event_type") === "error")
        .select(col("event_id").as("err_event_id"), col("user_id"),
          unix_micros(col("ts")).as("err_ts_us"))
      val pur = Tables.events(s, dir).filter(col("event_type") === "purchase")
        .select(col("event_id").as("purch_event_id"), col("user_id"),
          unix_micros(col("ts")).as("purch_ts_us"))
      RangeJoin.intervalJoin(err, pur, "user_id", "err_ts_us", "purch_ts_us", 3600000000L)
        .select(col("err_event_id"), col("purch_event_id"),
          (col("purch_ts_us") - col("err_ts_us")).as("gap_us"))
    }),

    // --- ops/product analytics: anomaly detection, baselines, funnels ---
    "q_anomaly_zscore" -> ((s, dir) =>
      operators.Analytics.anomalyZScore(Tables.events(s, dir), 3.0)),
    "q_anomaly_mad" -> ((s, dir) =>
      operators.Analytics.anomalyMad(Tables.events(s, dir), 3.0)),
    // Poisson sqrt-band anomaly on hourly counts (variance = mean)
    "q_anomaly_poisson" -> ((s, dir) =>
      operators.Analytics.anomalyPoisson(Tables.events(s, dir), 3.0)),
    // per-series freshness: last event, watermark lag, trailing-hour volume
    "q_freshness" -> ((s, dir) =>
      operators.Analytics.freshnessReport(Tables.events(s, dir))),
    // supervised-forecasting design matrix: lags, diff, trailing mean
    "q_lag_features" -> ((s, dir) =>
      operators.Analytics.lagFeatures(Tables.events(s, dir))),
    "q_seasonal_baseline" -> ((s, dir) =>
      operators.Analytics.seasonalBaseline(Tables.events(s, dir))),
    "q_seasonal_decompose" -> ((s, dir) =>
      operators.Analytics.seasonalDecompose(Tables.events(s, dir))),
    "q_cusum" -> ((s, dir) =>
      operators.Analytics.cusum(Tables.events(s, dir))),
    "q_rolling_median" -> ((s, dir) =>
      operators.Analytics.rollingMedian(Tables.events(s, dir), 24)),
    "q_bollinger" -> ((s, dir) =>
      operators.Analytics.bollingerBands(Tables.events(s, dir), 24, 2.0)),
    "q_holt_forecast" -> ((s, dir) =>
      operators.Analytics.holtForecast(Tables.events(s, dir),
        alpha = 0.5, beta = 0.3, horizons = Seq(1, 24))),
    "q_histogram_quantile" -> ((s, dir) =>
      operators.Analytics.histogramQuantile(Tables.events(s, dir), 0.9,
        Seq(1d, 5d, 10d, 20d, 50d, 100d, 200d, 500d))),
    "q_pareto" -> ((s, dir) =>
      operators.Analytics.paretoCurve(Tables.events(s, dir), "purchase")),
    "q_funnel" -> ((s, dir) =>
      operators.Analytics.funnel(Tables.events(s, dir),
        Seq("view", "click", "purchase"), 24L * 3600000000L)),
    "q_funnel_latency" -> ((s, dir) =>
      operators.Analytics.funnelLatency(Tables.events(s, dir),
        Seq("view", "click", "purchase"), 24L * 3600000000L)),
    // Benford leading-digit audit of order totals — string-extracted
    // digit (no runtime log10), shared literal expectations
    "q_benford" -> ((s, dir) =>
      operators.Analytics.benfordDigits(Tables.orders(s, dir), "o_totalprice")),
    // Simpson diversity (1 − Σp²) of each user's event-type mix — the
    // libm-free concentration measure (entropy would pin libm's ulp)
    "q_user_diversity" -> ((s, dir) =>
      operators.Analytics.userDiversity(Tables.events(s, dir))),
    // exact-decimal raw moments → skewness / excess kurtosis per type
    "q_skew_kurtosis" -> ((s, dir) =>
      operators.Analytics.skewKurtosis(Tables.events(s, dir))),
    // per-type Gini of user-spend concentration — distributed rank,
    // tie-invariant ranked formula, exact decimal sums
    "q_gini" -> ((s, dir) =>
      operators.Analytics.giniConcentration(Tables.events(s, dir))),
    // per-type OLS trend (slope/day, intercept, R²) from exact
    // decimal moment sums over integer relative seconds
    "q_trend_line" -> ((s, dir) =>
      operators.Analytics.trendLine(Tables.events(s, dir))),
    // SCD Type-2 state intervals from consecutive event-type runs
    "q_scd2" -> ((s, dir) =>
      operators.Analytics.scd2(Tables.events(s, dir))),
    // RFM quintile segmentation of customers — three distributed ranks
    "q_rfm" -> ((s, dir) =>
      operators.Analytics.rfmSegments(Tables.orders(s, dir))),
    // last-touch attribution of purchase value to the preceding channel
    "q_attribution" -> ((s, dir) =>
      operators.Analytics.attributionLastTouch(Tables.events(s, dir),
        "purchase", 24L * 3600000000L)),
    // equi-depth histogram boundaries (optimizer statistics primitive)
    "q_equidepth" -> ((s, dir) =>
      operators.Analytics.equiDepthBoundaries(Tables.events(s, dir), 8)),
    // order-total reconciliation vs exact lineitem recompute, per status
    "q_audit_totals" -> ((s, dir) =>
      operators.Relational.auditOrderTotals(Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    // referential-integrity orphan counts across every FK edge
    "q_audit_orphans" -> ((s, dir) =>
      operators.Relational.auditForeignKeys(Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.supplier(s, dir), Tables.part(s, dir),
        Tables.nation(s, dir), Tables.region(s, dir))),
    // cohort LTV curves: cumulative value per first-seen-hour cohort
    "q_cohort_ltv" -> ((s, dir) =>
      operators.Analytics.cohortLtv(Tables.events(s, dir))),
    // two-proportion A/B z-test on user-parity variants
    "q_ab_test" -> ((s, dir) =>
      operators.Analytics.abTest(Tables.events(s, dir), "purchase")),
    // rank-based CDF feature normalization per type
    "q_cdf_normalize" -> ((s, dir) =>
      operators.Analytics.cdfNormalize(Tables.events(s, dir))),
    // p01/p99 winsorization per type (order-statistic clipping)
    "q_winsorize" -> ((s, dir) =>
      operators.Analytics.winsorize(Tables.events(s, dir))),
    // linear multi-touch attribution at (channel, n_touches) grain
    "q_attribution_linear" -> ((s, dir) =>
      operators.Analytics.attributionLinear(Tables.events(s, dir),
        "purchase", 24L * 3600000000L)),
    // hourly conversion rate + Wilson 95% lower bound
    "q_wilson" -> ((s, dir) =>
      operators.Analytics.wilsonConversion(Tables.events(s, dir),
        "purchase")),
    // leave-one-out target encoding (leakage-safe categorical feature)
    "q_target_encode" -> ((s, dir) =>
      operators.Analytics.targetEncodeLoo(Tables.events(s, dir))),
    // k-anonymity / l-diversity release audit on (type, hour) QI
    "q_k_anonymity" -> ((s, dir) =>
      operators.Analytics.kAnonymity(Tables.events(s, dir), 10L)),
    // join-key skew diagnostics across the hot fact keys
    "q_skew_report" -> ((s, dir) =>
      operators.Analytics.skewReport(Tables.lineitem(s, dir), "lineitem",
          Seq("l_orderkey", "l_partkey", "l_suppkey"))
        .unionByName(operators.Analytics.skewReport(Tables.events(s, dir),
          "events", Seq("user_id", "event_type")))),

    // --- LLM-pipeline additions: PII scrub, decontamination, corpus stats ---
    "q_pii_scrub" -> ((s, dir) => {
      // the synthetic corpus carries no real PII — inject one deterministic
      // email + phone per doc so the scrub demonstrably engages (the oracle
      // mirrors the same augmentation)
      val aug = Tables.documents(s, dir).withColumn("text",
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or +1-"),
          lpad(pmod(col("doc_id"), lit(1000L)).cast("string"), 3, "0"), lit("-555-"),
          lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0")))
      TextAnalysis.piiScrub(aug)
        .select(col("doc_id"), col("n_emails"), col("n_phones"), col("text"))
    }),
    "q_edit_neardup" -> ((s, dir) =>
      operators.Dedup.editDistancePairs(Tables.documents(s, dir),
        maxHamming = 4, maxDist = 100)),
    "q_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      operators.Dedup.contaminatedDocs(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), n = 4)
    }),
    // bloom prefilter + exact verify: same answer (and oracle) as
    // q_contamination, but the semi-join only carries bloom candidates
    "q_bloom_decontam" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      operators.Dedup.bloomContaminatedDocs(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), n = 4)
    }),
    "q_inverted_index" -> ((s, dir) =>
      TextAnalysis.invertedIndexPostings(Tables.documents(s, dir), minDf = 100,
        maxPostings = 100)),
    // per-source corpus mixing table (docs/token/char shares)
    "q_corpus_mix" -> ((s, dir) =>
      TextAnalysis.corpusMix(Tables.documents(s, dir))),
    "q_bigrams" -> ((s, dir) =>
      TextAnalysis.bigramCounts(Tables.documents(s, dir), 30)),
    "q_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionScore(Tables.documents(s, dir), 3)),
    "q_char_diversity" -> ((s, dir) =>
      TextAnalysis.charDiversity(Tables.documents(s, dir))),
    "q_corr_matrix" -> ((s, dir) =>
      operators.Analytics.corrMatrix(Tables.events(s, dir))),
    "q_lift" -> ((s, dir) =>
      operators.Analytics.userLift(Tables.events(s, dir))),
    "q_trimmed_mean" -> ((s, dir) =>
      Relational.trimmedMeanByType(Tables.events(s, dir), 5, 95)),
    "q_weighted_sample" -> ((s, dir) =>
      operators.Sampling.weightedPrioritySample(
        Tables.documents(s, dir), "doc_id", "n_chars", 50)
        .select(col("doc_id"), col("n_chars"), col("priority"))),

    "q_label_centroids" -> ((s, dir) =>
      Similarity.labelCentroidRows(Tables.embeddings(s, dir))),
    // L2-norm audit: out-of-unit census per label (pre-ANN sanity gate)
    "q_embed_norms" -> ((s, dir) =>
      Similarity.embeddingNormAudit(Tables.embeddings(s, dir))),
    "q_pq_topk" -> ((s, dir) =>
      Similarity.pqAnnTopK(Tables.embeddings(s, dir), QueryVecId,
        m = 4, kCent = 8, rerank = 50, k = TopKSim)),

    // --- storage layout & multi-resolution serving ---
    "q_zorder" -> ((s, dir) =>
      Tables.events(s, dir).select(col("event_id"),
        operators.Layout.zValue(
          pmod(col("user_id"), lit(1024L)),
          pmod(col("event_id"), lit(1024L)), 10).as("zv"))),
    "q_multires" -> ((s, dir) =>
      operators.Rollup.multiResRangeFromBase(Tables.events(s, dir),
        MultiResStartUs, MultiResEndUs)),
  )

  /** q_multires range: 2024-01-02 06:00 → 2024-01-20 18:00 UTC (hour-
    * aligned, straddling 17 whole days + two ragged hourly edges). */
  private val MultiResStartUs = 1704175200000000L
  private val MultiResEndUs = 1705773600000000L

  // --- SQL fragment builders shared by several oracles (mirror the Scala
  // constants exactly; P is TextAnalysis.P) ---
  private val P = TextAnalysis.P

  /** Sequential left-fold dot product — same evaluation order as
    * [[Similarity.dot]], so doubles match bit-for-bit. */
  private def sqlDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"[$a[i]*$b[i] for i in generate_series(1, len($a))]), (acc,x) -> acc+x)"

  private def sqlCosine(a: String, b: String): String =
    s"${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)}))"

  /** LEB128 varint byte count — mirror of `TimeSeries.varintBytes`:
    * negative (top-bit-set unsigned) → 10; else 1 byte per started
    * 7-bit group, 9 for anything ≥ 2⁵⁶. */
  private def sqlVarintBytes(x: String): String =
    s"CASE WHEN $x < 0 THEN 10 " +
      (1 to 8).map(b => s"WHEN $x < ${1L << (7 * b)} THEN $b").mkString(" ") +
      " ELSE 9 END"

  /** 60-bit md5-prefix token hash — mirror of [[TextAnalysis.tokHash]]. */
  private def sqlTokHash(t: String): String =
    s"('0x' || substr(md5($t), 1, 15))::BIGINT"

  private val sqlDocs2 =
    "SELECT doc_id, text FROM documents UNION ALL " +
      "SELECT doc_id + 1000000 AS doc_id, text FROM documents"

  /** Shared shingle/pair CTE prefix for the Jaccard oracles. */
  private val sqlShingleCtes =
    s"""tok AS (SELECT doc_id, string_split(text, ' ') s FROM documents),
       |sh AS (SELECT doc_id,
       |         CASE WHEN len(s) >= $NgramN
       |              THEN list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
       |                                  for i in generate_series(1, len(s) - ${NgramN - 1})])
       |              ELSE [] END gs FROM tok),
       |ex AS (SELECT doc_id, unnest(gs) g FROM sh),
       |sizes AS (SELECT doc_id, count(*) n FROM ex GROUP BY 1),
       |pairs AS (SELECT a.doc_id doc_id_1, b.doc_id doc_id_2, count(*) n_common
       |          FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)""".stripMargin

  /** DF-capped variant of the shingle CTEs for q_ngram_jaccard — mirrors
    * Dedup.ngramJaccardPairs' document-frequency cap: shingles in more than
    * NgramDfCap docs are excluded from pairs AND sizes. */
  private val sqlShingleCtesCapped =
    s"""tok AS (SELECT doc_id, string_split(text, ' ') s FROM documents),
       |sh AS (SELECT doc_id,
       |         CASE WHEN len(s) >= $NgramN
       |              THEN list_distinct([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
       |                                  for i in generate_series(1, len(s) - ${NgramN - 1})])
       |              ELSE [] END gs FROM tok),
       |ex0 AS (SELECT doc_id, unnest(gs) g FROM sh),
       |dfc AS (SELECT g, count(*) df FROM ex0 GROUP BY 1),
       |exc AS (SELECT ex0.doc_id, ex0.g FROM ex0 JOIN dfc USING (g)
       |        WHERE dfc.df <= $NgramDfCap),
       |csizes AS (SELECT doc_id, count(*) n FROM exc GROUP BY 1),
       |cpairs AS (SELECT a.doc_id doc_id_1, b.doc_id doc_id_2, count(*) n_common
       |           FROM exc a JOIN exc b ON a.g = b.g AND a.doc_id < b.doc_id
       |           GROUP BY 1, 2)""".stripMargin

  private val sqlMinhashSig = {
    val mins = (0 until Dedup.MinHashK)
      .map(i => s"min((${Dedup.aCoef(i)}*h + ${Dedup.bCoef(i)}) % $P) AS mh$i")
      .mkString(",\n       ")
    val bands = (0 until Dedup.MinHashK / 2)
      .map(b => s"SELECT doc_id, $b AS band, mh${2 * b}*$P + mh${2 * b + 1} AS bucket FROM sig")
      .mkString("\n  UNION ALL ")
    s"""hh AS (SELECT doc_id, ${sqlTokHash("g")} % $P h FROM ex),
       |sig AS (SELECT doc_id,
       |       $mins
       |       FROM hh GROUP BY doc_id),
       |bands AS (
       |  $bands
       |),
       |cand AS (SELECT DISTINCT a.doc_id doc_id_1, b.doc_id doc_id_2
       |         FROM bands a JOIN bands b
       |         ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** media CTE mirror of [[Multimodal.mediaFromDocs]] (text domain; the
    * document corpus is ASCII so char and byte offsets coincide). */
  private val sqlMedia =
    """media AS (SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image'
      |       WHEN doc_id % 3 = 1 THEN 'audio'
      |       ELSE 'video' END AS kind, text FROM documents)""".stripMargin

  /** DuckDB oracle SQL, one per [[queries]] key; column names/aliases match
    * the Spark output exactly (driver compare sorts columns by name). */
  /** The r12 series-family adaptive dispatchers are spec-pinned
    * bit-identical to their plain forms, so their oracles are SHARED by
    * reference (new name → plain name) instead of copying the SQL. */
  private val adaptiveTwins = Map(
    "q_window_delta_adaptive" -> "q_window_delta",
    "q_moving_avg_adaptive" -> "q_moving_avg",
    "q_counter_rate_adaptive" -> "q_counter_rate",
    "q_cumsum_adaptive" -> "q_cumsum",
    "q_time_weighted_avg_adaptive" -> "q_time_weighted_avg",
    "q_availability_adaptive" -> "q_availability")

  def oracleSql: Map[String, String] =
    oracleSqlBase ++ adaptiveTwins.map { case (k, v) => k -> oracleSqlBase(v) }

  private def oracleSqlBase: Map[String, String] = Map(
    "q_range_scan" ->
      s"""SELECT event_id, epoch_us(ts) AS ts_us, value
         |FROM events
         |WHERE ts BETWEEN TIMESTAMP '$RangeStart' AND TIMESTAMP '$RangeEnd'""".stripMargin,
    "q_range_scan_limit" ->
      s"""SELECT event_id, epoch_us(ts) AS ts_us, value
         |FROM events
         |WHERE ts BETWEEN TIMESTAMP '$RangeStart' AND TIMESTAMP '$RangeEnd'
         |ORDER BY ts_us, event_id LIMIT $LimitCap""".stripMargin,
    "q_range_stats" ->
      s"""SELECT count(*) AS n_points, min(value) AS min_value,
         |       max(value) AS max_value
         |FROM events
         |WHERE ts BETWEEN TIMESTAMP '$RangeStart' AND TIMESTAMP '$RangeEnd'""".stripMargin,
    "q_shard_prune" ->
      """SELECT epoch_ms(ts) // 3600000 AS shard_hour,
        |       count(*) AS n_points,
        |       min(epoch_us(ts)) AS min_ts_us,
        |       max(epoch_us(ts)) AS max_ts_us
        |FROM events GROUP BY 1""".stripMargin,
    // mirror of TimeSeries.gorillaFootprint's TIMESTAMP stream
    // (shard.cpp:107-119 semantics): varint(raw first ts_ms), then
    // varint(zigzag(delta-of-delta)); zigzag(n) = (n<<1)^(n>>63) written
    // as checked arithmetic (2n / −2n−1 — identical values, no
    // engine-specific shift semantics)
    "q_gorilla_footprint_ts" ->
      s"""WITH pts AS (SELECT event_id, epoch_ms(ts) AS ts_ms,
         |                    epoch_ms(ts) // 3600000 AS shard_hour
         |             FROM events),
         |d1 AS (SELECT shard_hour, ts_ms, event_id,
         |              ts_ms - lag(ts_ms) OVER (PARTITION BY shard_hour
         |                ORDER BY ts_ms, event_id) AS delta
         |       FROM pts),
         |d2 AS (SELECT shard_hour, ts_ms, delta,
         |              delta - coalesce(lag(delta) OVER (PARTITION BY shard_hour
         |                ORDER BY ts_ms, event_id), 0) AS dod
         |       FROM d1),
         |z AS (SELECT shard_hour, ts_ms, delta,
         |             CASE WHEN dod >= 0 THEN 2 * dod ELSE -2 * dod - 1 END AS zz
         |      FROM d2),
         |b AS (SELECT shard_hour,
         |             CASE WHEN delta IS NULL THEN ${sqlVarintBytes("ts_ms")}
         |                  ELSE ${sqlVarintBytes("zz")} END AS pt_bytes
         |      FROM z)
         |SELECT shard_hour, count(*) AS n_points,
         |       CAST(sum(pt_bytes) AS BIGINT) AS ts_bytes
         |FROM b GROUP BY 1""".stripMargin,
    "q_downsample_1h" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |       count(*) AS n_points,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |       min(value) AS min_value,
        |       max(value) AS max_value
        |FROM events GROUP BY 1""".stripMargin,
    "q_gap_fill" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |         count(*) AS n_points,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT event_type, min(bucket_us) AS lo, max(bucket_us) AS hi
        |           FROM hourly GROUP BY 1),
        |spine AS (SELECT event_type,
        |                 unnest(generate_series(lo, hi, 3600000000)) AS bucket_us
        |          FROM bounds)
        |SELECT s.event_type, s.bucket_us,
        |       coalesce(h.n_points, 0) AS n_points,
        |       last_value(h.sum_value IGNORE NULLS) OVER (
        |         PARTITION BY s.event_type ORDER BY s.bucket_us
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum
        |FROM spine s LEFT JOIN hourly h USING (event_type, bucket_us)""".stripMargin,
    // linear interpolation: prev + (next-prev) * dt/span, same op order
    "q_gap_interp" ->
      """WITH hourly AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |         count(*) AS n_points,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT event_type, min(bucket_us) AS lo, max(bucket_us) AS hi
        |           FROM hourly GROUP BY 1),
        |spine AS (SELECT event_type,
        |                 unnest(generate_series(lo, hi, 3600000000)) AS bucket_us
        |          FROM bounds),
        |j AS (
        |  SELECT s.event_type, s.bucket_us, h.n_points, h.sum_value,
        |         last_value(h.sum_value IGNORE NULLS) OVER wb AS pv,
        |         last_value(CASE WHEN h.n_points > 0 THEN s.bucket_us END IGNORE NULLS) OVER wb AS pt,
        |         first_value(h.sum_value IGNORE NULLS) OVER wf AS nv,
        |         first_value(CASE WHEN h.n_points > 0 THEN s.bucket_us END IGNORE NULLS) OVER wf AS nt
        |  FROM spine s LEFT JOIN hourly h USING (event_type, bucket_us)
        |  WINDOW
        |    wb AS (PARTITION BY s.event_type ORDER BY s.bucket_us
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY s.event_type ORDER BY s.bucket_us
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, bucket_us,
        |       coalesce(n_points, 0) AS n_points,
        |       CASE WHEN n_points > 0 THEN sum_value
        |            WHEN pt IS NOT NULL AND nt IS NOT NULL THEN
        |              pv + (nv - pv) * (CAST(bucket_us - pt AS DOUBLE) /
        |                                CAST(nt - pt AS DOUBLE))
        |            ELSE NULL END AS interp_sum
        |FROM j""".stripMargin,
    "q_window_delta" ->
      """SELECT event_id, event_type, epoch_us(ts) AS ts_us, value,
        |       value - lag(value, 1) OVER w AS delta,
        |       epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS ts_delta_us
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)""".stripMargin,
    "q_moving_avg" ->
      """SELECT event_id, event_type, epoch_us(ts) AS ts_us,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |         / count(*) OVER w AS moving_avg
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |             ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)""".stripMargin,
    // OHLC selection mirrored with a two-direction row_number (the Spark
    // side uses min_by/max_by on the (ts, event_id) struct — same total
    // order, same winner)
    // mirror of TimeSeries.rollingCorr: decimal window co-moments, the
    // VARCHAR-hop decimal→double cast (correctly rounded, = Spark's
    // Decimal.toDouble), Pearson in the same fixed double order
    "q_rolling_corr" ->
      """WITH h AS (
        |  SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |         sum(CASE WHEN event_type = 'click'
        |                  THEN CAST(value AS DECIMAL(18,2))
        |                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS x,
        |         sum(CASE WHEN event_type = 'view'
        |                  THEN CAST(value AS DECIMAL(18,2))
        |                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS y
        |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
        |wsum AS (
        |  SELECT bucket_us,
        |    count(*) OVER w AS cnt,
        |    CAST(CAST(sum(x) OVER w AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(sum(y) OVER w AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(sum(x * y) OVER w AS VARCHAR) AS DOUBLE) AS sxy,
        |    CAST(CAST(sum(x * x) OVER w AS VARCHAR) AS DOUBLE) AS sxx,
        |    CAST(CAST(sum(y * y) OVER w AS VARCHAR) AS DOUBLE) AS syy
        |  FROM h
        |  WINDOW w AS (ORDER BY bucket_us ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT bucket_us,
        |       (24.0 * sxy - sx * sy)
        |         / (sqrt(24.0 * sxx - sx * sx) * sqrt(24.0 * syy - sy * sy)) AS rolling_r
        |FROM wsum WHERE cnt = 24""".stripMargin,
    // multi-pair mirror: per-type hourly decimal sums, one full-outer
    // bucket join per pair (absent side = exact 0), the SAME co-moment
    // window now PARTITIONED by the pair key
    "q_rolling_corr_pairs" ->
      """WITH pt AS (
        |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |         sum(CAST(value AS DECIMAL(18,2))) AS s
        |  FROM events
        |  WHERE event_type IN ('click','view','purchase','error','signup')
        |  GROUP BY 1, 2),
        |pp AS (
        |  SELECT 'click' AS type_x, 'view' AS type_y, bucket_us,
        |         COALESCE(x.s, CAST(0 AS DECIMAL(18,2))) AS x,
        |         COALESCE(y.s, CAST(0 AS DECIMAL(18,2))) AS y
        |  FROM (SELECT bucket_us, s FROM pt WHERE event_type = 'click') AS x
        |  FULL JOIN (SELECT bucket_us, s FROM pt WHERE event_type = 'view') AS y
        |    USING (bucket_us)
        |  UNION ALL
        |  SELECT 'purchase', 'error', bucket_us,
        |         COALESCE(x.s, CAST(0 AS DECIMAL(18,2))),
        |         COALESCE(y.s, CAST(0 AS DECIMAL(18,2)))
        |  FROM (SELECT bucket_us, s FROM pt WHERE event_type = 'purchase') AS x
        |  FULL JOIN (SELECT bucket_us, s FROM pt WHERE event_type = 'error') AS y
        |    USING (bucket_us)
        |  UNION ALL
        |  SELECT 'signup', 'click', bucket_us,
        |         COALESCE(x.s, CAST(0 AS DECIMAL(18,2))),
        |         COALESCE(y.s, CAST(0 AS DECIMAL(18,2)))
        |  FROM (SELECT bucket_us, s FROM pt WHERE event_type = 'signup') AS x
        |  FULL JOIN (SELECT bucket_us, s FROM pt WHERE event_type = 'click') AS y
        |    USING (bucket_us)),
        |wsum AS (
        |  SELECT type_x, type_y, bucket_us,
        |    count(*) OVER w AS cnt,
        |    CAST(CAST(sum(x) OVER w AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(sum(y) OVER w AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(sum(x * y) OVER w AS VARCHAR) AS DOUBLE) AS sxy,
        |    CAST(CAST(sum(x * x) OVER w AS VARCHAR) AS DOUBLE) AS sxx,
        |    CAST(CAST(sum(y * y) OVER w AS VARCHAR) AS DOUBLE) AS syy
        |  FROM pp
        |  WINDOW w AS (PARTITION BY type_x, type_y ORDER BY bucket_us
        |               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT type_x, type_y, bucket_us,
        |       (24.0 * sxy - sx * sy)
        |         / (sqrt(24.0 * sxx - sx * sx) * sqrt(24.0 * syy - sy * sy)) AS rolling_r
        |FROM wsum WHERE cnt = 24""".stripMargin,
    // mirror of TimeSeries.alertFor: exact-decimal breach test, the same
    // gaps-and-islands key, HAVING = the hold duration
    "q_alert_for" ->
      s"""WITH h AS (SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us,
         |                  sum(CAST(value AS DECIMAL(18,2))) AS s, count(*) AS n
         |           FROM events GROUP BY 1, 2),
         |b AS (SELECT * FROM h WHERE s * 100 > $AlertCents * n),
         |i AS (SELECT *, bucket_us // 3600000000 -
         |        row_number() OVER (PARTITION BY event_type ORDER BY bucket_us) AS grp
         |      FROM b)
         |SELECT event_type, min(bucket_us) AS alert_start_us,
         |       max(bucket_us) AS alert_end_us, count(*) AS n_hours,
         |       max(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS peak_mean
         |FROM i GROUP BY event_type, grp HAVING count(*) >= $AlertForHours""".stripMargin,
    // mirror of TimeSeries.m4: integer pixel buckets over the global span,
    // min_by/max_by argmins replayed as rank-1 rows under the same keys
    "q_m4" ->
      s"""WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us, event_id, value FROM events),
         |s AS (SELECT min(ts_us) AS t0, max(ts_us) - min(ts_us) + 1 AS dur FROM e),
         |b AS (SELECT e.*, ((ts_us - t0) * $M4Width) // dur AS bucket FROM e CROSS JOIN s),
         |r AS (SELECT *,
         |        row_number() OVER (PARTITION BY event_type, bucket
         |                           ORDER BY ts_us, event_id) AS rn_a,
         |        row_number() OVER (PARTITION BY event_type, bucket
         |                           ORDER BY ts_us DESC, event_id DESC) AS rn_d,
         |        row_number() OVER (PARTITION BY event_type, bucket
         |                           ORDER BY value, ts_us, event_id) AS rn_lo,
         |        row_number() OVER (PARTITION BY event_type, bucket
         |                           ORDER BY value DESC, ts_us DESC, event_id DESC) AS rn_hi
         |      FROM b)
         |SELECT event_type, bucket,
         |       max(CASE WHEN rn_a = 1 THEN ts_us END) AS t_first,
         |       max(CASE WHEN rn_a = 1 THEN value END) AS v_first,
         |       max(CASE WHEN rn_d = 1 THEN ts_us END) AS t_last,
         |       max(CASE WHEN rn_d = 1 THEN value END) AS v_last,
         |       max(CASE WHEN rn_lo = 1 THEN ts_us END) AS t_min,
         |       max(CASE WHEN rn_lo = 1 THEN value END) AS v_min,
         |       max(CASE WHEN rn_hi = 1 THEN ts_us END) AS t_max,
         |       max(CASE WHEN rn_hi = 1 THEN value END) AS v_max,
         |       count(*) AS n_points
         |FROM r GROUP BY 1, 2""".stripMargin,
    "q_ohlc" ->
      """WITH e AS (SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |                 epoch_us(ts) AS ts_us, event_id, value FROM events),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY event_type, bucket_us
        |                           ORDER BY ts_us, event_id) AS rn_a,
        |        row_number() OVER (PARTITION BY event_type, bucket_us
        |                           ORDER BY ts_us DESC, event_id DESC) AS rn_d
        |      FROM e)
        |SELECT event_type, bucket_us,
        |       max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |       max(value) AS high,
        |       min(value) AS low,
        |       max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |       count(*) AS n_points
        |FROM r GROUP BY 1, 2""".stripMargin,
    "q_counter_rate" ->
      """WITH w AS (SELECT event_type, ts, value,
        |                  lag(value, 1) OVER (PARTITION BY event_type
        |                                      ORDER BY ts, event_id) AS prev
        |           FROM events),
        |i AS (SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |             CASE WHEN prev IS NULL THEN NULL
        |                  WHEN value >= prev THEN value - prev
        |                  ELSE value END AS inc
        |      FROM w)
        |SELECT event_type, bucket_us,
        |       CAST(sum(CAST(inc AS DECIMAL(18,2))) AS DOUBLE) AS increase_sum,
        |       count(inc) AS n_increases
        |FROM i GROUP BY 1, 2""".stripMargin,
    "q_hourly_active" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |       count(DISTINCT user_id) AS n_active_users,
        |       count(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin,
    "q_retention_cohorts" ->
      """WITH f AS (SELECT user_id, min(epoch_us(date_trunc('hour', ts))) AS cohort_us
        |           FROM events GROUP BY 1)
        |SELECT cohort_us, epoch_us(date_trunc('hour', ts)) AS active_us,
        |       count(DISTINCT events.user_id) AS n_users
        |FROM events JOIN f ON events.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin,
    "q_cumsum" ->
      """SELECT event_id, event_type, epoch_us(ts) AS ts_us,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
        |         PARTITION BY event_type ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum
        |FROM events""".stripMargin,
    "q_series_align" ->
      """WITH a AS (SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS a_sum,
        |                  count(*) AS a_n
        |           FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |b AS (SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS b_sum,
        |             count(*) AS b_n
        |      FROM events WHERE event_type = 'error' GROUP BY 1)
        |SELECT coalesce(a.bucket_us, b.bucket_us) AS bucket_us,
        |       a_sum, coalesce(a_n, 0) AS a_n,
        |       b_sum, coalesce(b_n, 0) AS b_n
        |FROM a FULL OUTER JOIN b USING (bucket_us)""".stripMargin,
    "q_xcorr_lag" ->
      """WITH ha AS (SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x
        |            FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |hb AS (SELECT epoch_us(date_trunc('hour', ts)) - 3600000000 AS bucket_us,
        |              CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS y
        |       FROM events WHERE event_type = 'error' GROUP BY 1),
        |m AS (SELECT count(*) AS n,
        |             CAST(CAST(sum(x) AS VARCHAR) AS DOUBLE) AS sx,
        |             CAST(CAST(sum(y) AS VARCHAR) AS DOUBLE) AS sy,
        |             CAST(CAST(sum(x * y) AS VARCHAR) AS DOUBLE) AS sxy,
        |             CAST(CAST(sum(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
        |             CAST(CAST(sum(y * y) AS VARCHAR) AS DOUBLE) AS syy
        |      FROM ha JOIN hb USING (bucket_us))
        |SELECT CAST(1 AS BIGINT) AS lag_hours, n,
        |       CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0
        |            THEN NULL
        |            ELSE (n * sxy - sx * sy) /
        |                   (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
        |       END AS pearson_r
        |FROM m""".stripMargin,
    // mirror of TimeSeries.acf: the engine's per-lag global aggregate
    // emits a row even for an empty overlap, so the oracle LEFT JOINs
    // the lag spine onto the grouped moments (coalesced n, NULL acf —
    // the same row the engine's when() produces on NULL moments)
    "q_acf" ->
      """WITH hourly AS (
        |  SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |lags AS (SELECT CAST(k AS BIGINT) AS lag_hours
        |         FROM generate_series(1, 6) t(k)),
        |m AS (SELECT lag_hours, count(*) AS n,
        |             CAST(CAST(sum(a.s) AS VARCHAR) AS DOUBLE) AS sx,
        |             CAST(CAST(sum(b.s) AS VARCHAR) AS DOUBLE) AS sy,
        |             CAST(CAST(sum(a.s * b.s) AS VARCHAR) AS DOUBLE) AS sxy,
        |             CAST(CAST(sum(a.s * a.s) AS VARCHAR) AS DOUBLE) AS sxx,
        |             CAST(CAST(sum(b.s * b.s) AS VARCHAR) AS DOUBLE) AS syy
        |      FROM lags CROSS JOIN hourly a
        |      JOIN hourly b ON b.bucket_us = a.bucket_us + lag_hours * 3600000000
        |      GROUP BY 1)
        |SELECT l.lag_hours, coalesce(m.n, 0) AS n,
        |       CASE WHEN m.n * m.sxx - m.sx * m.sx <= 0
        |              OR m.n * m.syy - m.sy * m.sy <= 0
        |            THEN NULL
        |            ELSE (m.n * m.sxy - m.sx * m.sy) /
        |                   (sqrt(m.n * m.sxx - m.sx * m.sx) *
        |                    sqrt(m.n * m.syy - m.sy * m.sy))
        |       END AS acf
        |FROM lags l LEFT JOIN m ON m.lag_hours = l.lag_hours""".stripMargin,
    // mirror of TimeSeries.trailingWindow: identical RANGE frame on the
    // microsecond axis — peers enter together, so no tiebreak is needed
    "q_rolling_range" ->
      """SELECT event_id, event_type, user_id, epoch_us(ts) AS ts_us,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS w_sum,
        |       count(*) OVER w AS w_n
        |FROM events
        |WINDOW w AS (PARTITION BY event_type, user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_quantiles" ->
      """WITH r AS (SELECT event_type, value,
        |                  row_number() OVER (PARTITION BY event_type
        |                                     ORDER BY value, event_id) AS rn,
        |                  count(*) OVER (PARTITION BY event_type) AS n
        |           FROM events)
        |SELECT event_type, max(n) AS n,
        |       max(CASE WHEN rn = (n * 50 + 99) // 100 THEN value END) AS p50,
        |       max(CASE WHEN rn = (n * 90 + 99) // 100 THEN value END) AS p90,
        |       max(CASE WHEN rn = (n * 99 + 99) // 100 THEN value END) AS p99
        |FROM r GROUP BY 1""".stripMargin,
    "q_profile" ->
      """SELECT 'lang' AS col_name, count(*) AS n_rows, count(lang) AS n_nonnull,
        |       count(DISTINCT lang) AS n_distinct,
        |       CAST(min(lang) AS VARCHAR) AS min_str, CAST(max(lang) AS VARCHAR) AS max_str
        |FROM documents
        |UNION ALL
        |SELECT 'source', count(*), count(source), count(DISTINCT source),
        |       CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
        |FROM documents
        |UNION ALL
        |SELECT 'n_chars', count(*), count(n_chars), count(DISTINCT n_chars),
        |       CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
        |FROM documents""".stripMargin,
    "q_merge_intervals" ->
      """WITH iv AS (SELECT o_custkey AS key,
        |                   epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS start_us,
        |                   epoch_us(CAST(o_orderdate AS TIMESTAMP)) + 604800000000 AS end_us
        |            FROM orders),
        |g AS (SELECT key, start_us, end_us,
        |             CASE WHEN max(end_us) OVER (PARTITION BY key ORDER BY start_us, end_us
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |                    OR start_us > max(end_us) OVER (PARTITION BY key ORDER BY start_us, end_us
        |                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |                  THEN 1 ELSE 0 END AS new_grp
        |      FROM iv),
        |grp AS (SELECT *, sum(new_grp) OVER (PARTITION BY key ORDER BY start_us, end_us
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |        FROM g)
        |SELECT key, min(start_us) AS interval_start_us, max(end_us) AS interval_end_us,
        |       count(*) AS n_merged
        |FROM grp GROUP BY key, grp""".stripMargin,
    "q_stratified_sample" ->
      s"""WITH r AS (SELECT event_id, event_type, user_id,
         |                  CAST(row_number() OVER (
         |                    PARTITION BY event_type
         |                    ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS BIGINT) AS rk
         |           FROM events)
         |SELECT event_id, event_type, user_id, rk FROM r WHERE rk <= $StratifiedK""".stripMargin,
    "q_topk_hours" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value,
        |       count(*) AS n_points
        |FROM events GROUP BY 1
        |ORDER BY avg_value DESC, bucket_us LIMIT 5""".stripMargin,
    "q_sessionize" ->
      """WITH m AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |s AS (SELECT user_id, ts_us,
        |             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |      FROM m)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts_us) AS session_start_us, max(ts_us) AS session_end_us
        |FROM s GROUP BY 1, 2""".stripMargin,
    // the blocked sessionizer is output-identical to the plain one, so it
    // carries the same oracle
    "q_sessionize_blocked" ->
      """WITH m AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |s AS (SELECT user_id, ts_us,
        |             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |      FROM m)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts_us) AS session_start_us, max(ts_us) AS session_end_us
        |FROM s GROUP BY 1, 2""".stripMargin,
    // the adaptive dispatcher picks plain or blocked — both bit-identical
    // to the same island-method SQL, so the oracle is shared again
    "q_sessionize_adaptive" ->
      """WITH m AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |s AS (SELECT user_id, ts_us,
        |             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |      FROM m)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts_us) AS session_start_us, max(ts_us) AS session_end_us
        |FROM s GROUP BY 1, 2""".stripMargin,
    "q_session_native" ->
      // session_window coalesces TOUCHING ranges: a gap of exactly 30 min
      // still merges (split is strictly >, spec-pinned); end = last + gap
      """WITH m AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
        |                      > 1800000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |s AS (SELECT user_id, ts_us,
        |             CAST(sum(new_s) OVER (PARTITION BY user_id
        |                     ORDER BY ts_us, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |      FROM m)
        |SELECT user_id, min(ts_us) AS session_start_us,
        |       max(ts_us) + 1800000000 AS session_end_us,
        |       count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,
    // mirror of RangeJoin.intervalOverlapJoin over 7-day order
    // fulfillment windows: the oracle is the plain theta join (closed
    // intervals) — the engine's grid cells are invisible in the result
    "q_interval_overlap" ->
      """WITH iv AS (
        |  SELECT o_custkey AS key, o_orderstatus AS st, o_orderkey AS id,
        |         epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS start_us,
        |         epoch_us(CAST(o_orderdate AS TIMESTAMP)) + 604800000000 AS end_us
        |  FROM orders)
        |SELECT a.key, a.id AS a_id, b.id AS b_id,
        |       greatest(a.start_us, b.start_us) AS overlap_start_us,
        |       least(a.end_us, b.end_us) AS overlap_end_us,
        |       least(a.end_us, b.end_us) - greatest(a.start_us, b.start_us)
        |         AS overlap_us
        |FROM (SELECT * FROM iv WHERE st = 'F') a
        |JOIN (SELECT * FROM iv WHERE st <> 'F') b
        |  ON a.key = b.key
        | AND a.start_us <= b.end_us AND b.start_us <= a.end_us""".stripMargin,
    // mirror of Analytics.sessionPaths: same gap sessions, ordered
    // string_agg replays the engine's rn-sorted concat exactly
    "q_session_paths" ->
      """WITH m AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |s AS (SELECT user_id, event_id, event_type, ts_us,
        |             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |      FROM m),
        |r AS (SELECT user_id, session_id, event_type,
        |             row_number() OVER (PARTITION BY user_id, session_id
        |                                ORDER BY ts_us, event_id) AS rn
        |      FROM s),
        |p AS (SELECT user_id, session_id,
        |             string_agg(event_type, '>' ORDER BY rn) AS path
        |      FROM r WHERE rn <= 3 GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions FROM p GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    // output-identical to q_session_paths, same oracle
    "q_session_paths_blocked" ->
      """WITH m AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |s AS (SELECT user_id, event_id, event_type, ts_us,
        |             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |      FROM m),
        |r AS (SELECT user_id, session_id, event_type,
        |             row_number() OVER (PARTITION BY user_id, session_id
        |                                ORDER BY ts_us, event_id) AS rn
        |      FROM s),
        |p AS (SELECT user_id, session_id,
        |             string_agg(event_type, '>' ORDER BY rn) AS path
        |      FROM r WHERE rn <= 3 GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions FROM p GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    // the adaptive dispatcher picks plain or blocked — both bit-identical
    // to the same path SQL, so the oracle is shared again
    "q_session_paths_adaptive" ->
      """WITH m AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |s AS (SELECT user_id, event_id, event_type, ts_us,
        |             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |      FROM m),
        |r AS (SELECT user_id, session_id, event_type,
        |             row_number() OVER (PARTITION BY user_id, session_id
        |                                ORDER BY ts_us, event_id) AS rn
        |      FROM s),
        |p AS (SELECT user_id, session_id,
        |             string_agg(event_type, '>' ORDER BY rn) AS path
        |      FROM r WHERE rn <= 3 GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions FROM p GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    // mirror of TimeSeries.timeWeightedAvg: INTEGER cent·µs numerator
    // (a scale-2 decimal would double-round int128→double then /100),
    // same two-division chain
    "q_time_weighted_avg" ->
      """WITH d AS (
        |  SELECT event_type,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |         lead(epoch_us(ts)) OVER w - epoch_us(ts) AS dur_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id))
        |SELECT event_type,
        |       CAST(sum(cents * dur_us) AS DOUBLE) / CAST(sum(dur_us) AS DOUBLE)
        |         / 100.0 AS twa,
        |       count(*) AS n_intervals
        |FROM d WHERE dur_us IS NOT NULL GROUP BY 1""".stripMargin,
    // mirror of TimeSeries.availability at the 30-min SLO
    "q_availability" ->
      """WITH d AS (
        |  SELECT event_type,
        |         lead(epoch_us(ts)) OVER w - epoch_us(ts) AS gap_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id))
        |SELECT event_type, max(gap_us) AS max_gap_us,
        |       CAST(sum(CASE WHEN gap_us > 1800000000 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_breaches,
        |       CAST(sum(least(gap_us, 1800000000)) AS DOUBLE) /
        |         CAST(sum(gap_us) AS DOUBLE) AS uptime
        |FROM d WHERE gap_us IS NOT NULL GROUP BY 1""".stripMargin,
    // mirror of TimeSeries.interarrivalStats: exact DECIMAL(38,0) gap
    // moments, identical IEEE tail ((√D − Σg)/(√D + Σg))
    "q_interarrival" ->
      """WITH d AS (
        |  SELECT event_type,
        |         lead(epoch_us(ts)) OVER w - epoch_us(ts) AS gap_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts), event_id)),
        |m AS (
        |  SELECT event_type, count(*) AS n_gaps, max(gap_us) AS max_gap_us,
        |         CAST(sum(CAST(gap_us AS DECIMAL(38,0))) AS DOUBLE) AS sg,
        |         CAST(sum(CAST(CAST(gap_us AS DECIMAL(38,0)) *
        |                       CAST(gap_us AS DECIMAL(38,0)) AS DECIMAL(38,0)))
        |              AS DOUBLE) AS sgg
        |  FROM d WHERE gap_us IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_gaps, max_gap_us,
        |       sg / n_gaps AS mean_gap_us,
        |       CASE WHEN n_gaps < 2 THEN NULL
        |            ELSE sqrt(greatest(n_gaps * sgg - sg * sg, 0)) / sg
        |       END AS cv,
        |       CASE WHEN n_gaps < 2 THEN NULL
        |            ELSE (sqrt(greatest(n_gaps * sgg - sg * sg, 0)) - sg) /
        |                 (sqrt(greatest(n_gaps * sgg - sg * sg, 0)) + sg)
        |       END AS burstiness
        |FROM m""".stripMargin,
    // mirror of Relational.yoyGrowth: (year-1, month) self-join, exact
    // decimal delta, double ratio at the boundary
    "q_yoy_growth" ->
      """WITH m AS (
        |  SELECT CAST(year(l_shipdate) AS INTEGER) AS yr,
        |         CAST(month(l_shipdate) AS INTEGER) AS mo,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |           AS rev
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT m.yr, m.mo, CAST(m.rev AS DOUBLE) AS revenue,
        |       CAST(p.rev AS DOUBLE) AS prev_revenue,
        |       CAST(m.rev - p.rev AS DOUBLE) AS yoy_delta,
        |       CAST(m.rev AS DOUBLE) / CAST(p.rev AS DOUBLE) AS yoy_ratio
        |FROM m LEFT JOIN m p ON p.yr = m.yr - 1 AND p.mo = m.mo""".stripMargin,
    "q_sliding_window" ->
      """SELECT window_start_us, count(*) AS n_points,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (SELECT (epoch_us(ts) // 300000000) * 300000000 - k * 300000000 AS window_start_us,
        |             value
        |      FROM events, (SELECT unnest(generate_series(0, 2)) k) kk)
        |GROUP BY 1""".stripMargin,
    "q_ewma" ->
      """SELECT event_type, CAST(len(vals) AS BIGINT) AS n,
        |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vals),
        |                   (acc, x) -> 0.1*x + 0.9*acc) AS ewma
        |FROM (SELECT event_type,
        |             list(value ORDER BY epoch_us(ts), event_id) AS vals
        |      FROM events GROUP BY event_type)""".stripMargin,
    "q_asof_tolerance" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
        |       CASE WHEN epoch_us(e.ts) >= epoch_us(p.ts) - 7200000000
        |            THEN epoch_us(e.ts) END AS err_ts_us,
        |       CASE WHEN epoch_us(e.ts) >= epoch_us(p.ts) - 7200000000
        |            THEN e.value END AS err_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON p.user_id = e.user_id AND e.ts <= p.ts""".stripMargin,
    "q_tpch_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
         |                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         |         AS sum_disc_price,
         |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
         |       count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '$ShipBefore'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_segment_revenue" ->
      """SELECT c_mktsegment,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q_star_join_region" ->
      """SELECT n_name,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS revenue,
        |       count(*) AS n_lineitems
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,
    "q_tpch_q3" ->
      """SELECT l_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate  > TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q_tpch_q6" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE year(l_shipdate) = 1996
        |  AND l_discount BETWEEN 0.02 AND 0.04
        |  AND l_quantity < 24""".stripMargin,
    "q_tpch_q14" ->
      """WITH m AS (
        |  SELECT CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS rev,
        |         p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
        |    AND l_shipdate <  TIMESTAMP '1997-10-01'),
        |s AS (SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev
        |                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_rev,
        |             CAST(sum(rev) AS DOUBLE) AS total_rev
        |      FROM m)
        |SELECT 100.0 * promo_rev / total_rev AS promo_pct, promo_rev, total_rev
        |FROM s""".stripMargin,
    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, n_name,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS revenue
        |FROM orders
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate <  TIMESTAMP '1997-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "q_tpch_q18" ->
      """WITH t AS (SELECT l_orderkey,
        |                  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |           FROM lineitem GROUP BY 1)
        |SELECT c_custkey, c_name, o_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
        |       o_totalprice, total_qty
        |FROM t
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE total_qty > 150""".stripMargin,
    "q_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate <  TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q_tpch_q7" ->
      """SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
        |       year(l_shipdate) AS l_year,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE (cn.n_name = 'NATION_1' AND sn.n_name = 'NATION_2')
        |   OR (cn.n_name = 'NATION_2' AND sn.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,
    "q_tpch_q12" ->
      """SELECT l_linestatus,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE year(l_shipdate) = 1997
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q_tpch_q13" ->
      """WITH co AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey
        |                  AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM co
        |GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev_dec
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate <  TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_dec = (SELECT max(rev_dec) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q_tpch_q17" ->
      """WITH bl AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#11')),
        |pp AS (
        |  SELECT l_partkey AS ap_partkey,
        |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
        |         count(*) AS n_qty
        |  FROM bl GROUP BY 1)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0e0
        |         AS avg_yearly
        |FROM bl JOIN pp ON l_partkey = ap_partkey
        |WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * n_qty < sum_qty""".stripMargin,
    "q_tpch_q19" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q_tpch_q22" ->
      """WITH s AS (
        |  SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal, count(*) AS n_bal
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT n_name, count(*) AS numcust,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer
        |CROSS JOIN s
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
        |  AND CAST(c_acctbal AS DECIMAL(18,2)) * n_bal > sum_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q_tpch_q8" ->
      """WITH base AS (
        |  SELECT year(l_shipdate) AS l_year, sn.n_name AS supp_nation,
        |         CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS rev
        |  FROM lineitem
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE c_nationkey IN (SELECT n_nationkey FROM nation
        |                        JOIN region ON n_regionkey = r_regionkey
        |                        WHERE r_name = 'ASIA')),
        |a AS (
        |  SELECT l_year,
        |         CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev
        |                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_rev,
        |         CAST(sum(rev) AS DOUBLE) AS total_rev
        |  FROM base GROUP BY 1)
        |SELECT l_year, nation_rev / total_rev AS mkt_share, nation_rev, total_rev
        |FROM a
        |ORDER BY l_year""".stripMargin,
    "q_transition_matrix" ->
      """WITH t AS (
        |  SELECT event_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT event_type AS from_type, to_type, count(*) AS n
        |      FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |       CAST(n AS DOUBLE) /
        |       CAST(CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS DOUBLE)
        |         AS prob
        |FROM c""".stripMargin,
    // the adaptive dispatcher picks plain or blocked-adjacency — both
    // bit-identical to the same lead SQL, so the oracle is shared again
    "q_transition_matrix_adaptive" ->
      """WITH t AS (
        |  SELECT event_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT event_type AS from_type, to_type, count(*) AS n
        |      FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |       CAST(n AS DOUBLE) /
        |       CAST(CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS DOUBLE)
        |         AS prob
        |FROM c""".stripMargin,
    "q_lttb" ->
      // exact-integer argmax score mirroring TimeSeries.lttb: x as µs
      // offsets from the series origin, y scaled ×100 (2-decimal data),
      // HUGEINT products compared EXACTLY (no double cast — above ~2⁵³
      // double rounding makes distinct scores tie, and exact compare is
      // what licenses the engine's hull prefilter); the per-bucket
      // argmax is a
      // LATERAL ORDER BY ... LIMIT 1 (score DESC, ts ASC, event_id ASC =
      // the fold's first-wins tie rule over its (ts_us, event_id)-sorted
      // struct order). NO lambdas anywhere: DuckDB 1.x evaluates
      // outer-correlated columns inside list_transform/list_reduce
      // lambdas in a recursive CTE nondeterministically under
      // multi-threading (garbage values, intermittent cast errors —
      // reproduced 24×; the LATERAL form is hash-stable at any thread
      // count)
      s"""WITH RECURSIVE e AS (
         |  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value,
         |         row_number() OVER (PARTITION BY event_type
         |                            ORDER BY epoch_us(ts), event_id) AS rk,
         |         count(*) OVER (PARTITION BY event_type) AS n,
         |         min(epoch_us(ts)) OVER (PARTITION BY event_type) AS fts
         |  FROM events),
         |small AS (SELECT event_type, ts_us, value FROM e WHERE n <= $LttbOut),
         |firstpt AS (SELECT event_type, ts_us AS fx, value AS fy
         |            FROM e WHERE n > $LttbOut AND rk = 1),
         |lastpt AS (SELECT event_type, ts_us AS lx, value AS ly, fts
         |           FROM e WHERE n > $LttbOut AND rk = n),
         |mid AS (SELECT event_type, ts_us, event_id, value, fts,
         |               ((rk - 2) * ${LttbOut - 2}) // (n - 2) AS bucket
         |        FROM e WHERE n > $LttbOut AND rk > 1 AND rk < n),
         |buck AS (
         |  SELECT event_type, bucket,
         |         CAST(sum(ts_us - fts) AS HUGEINT) AS sx,
         |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS sy,
         |         count(*) AS cnt
         |  FROM mid GROUP BY 1, 2),
         |nb AS (
         |  SELECT b.event_type, b.bucket, l.fts,
         |         coalesce(lead(sx) OVER win,
         |                  CAST(l.lx - l.fts AS HUGEINT)) AS nsx,
         |         coalesce(lead(sy) OVER win,
         |                  CAST(round(l.ly * 100) AS HUGEINT)) AS nsy,
         |         coalesce(lead(cnt) OVER win, 1) AS ncnt
         |  FROM buck b JOIN lastpt l ON b.event_type = l.event_type
         |  WINDOW win AS (PARTITION BY b.event_type ORDER BY bucket)),
         |walk(event_type, bucket, px, py) AS (
         |  SELECT event_type, CAST(-1 AS BIGINT), fx, fy FROM firstpt
         |  UNION ALL
         |  SELECT w.event_type, nx.bucket, best.x, best.y
         |  FROM walk w
         |  JOIN nb nx ON nx.event_type = w.event_type
         |            AND nx.bucket = w.bucket + 1,
         |  LATERAL (
         |    SELECT m.ts_us AS x, m.value AS y
         |    FROM mid m
         |    WHERE m.event_type = nx.event_type AND m.bucket = nx.bucket
         |    ORDER BY abs(
         |        (CAST(w.px - nx.fts AS HUGEINT) * nx.ncnt - nx.nsx) *
         |          (CAST(round(m.value * 100) AS HUGEINT) -
         |           CAST(round(w.py * 100) AS HUGEINT)) -
         |        (CAST(w.px - nx.fts AS HUGEINT) -
         |         CAST(m.ts_us - nx.fts AS HUGEINT)) *
         |          (nx.nsy - nx.ncnt * CAST(round(w.py * 100) AS HUGEINT))
         |      ) DESC, m.ts_us ASC, m.event_id ASC
         |    LIMIT 1) best)
         |SELECT event_type, ts_us, value FROM small
         |UNION ALL
         |SELECT event_type, px AS ts_us, py AS value FROM walk
         |UNION ALL
         |SELECT event_type, lx AS ts_us, ly AS value FROM lastpt""".stripMargin,
    // Fixed-point integer recurrence (pr in 1e-18 units as BIGINT):
    // every step is integer div / integer sum, so DuckDB's HUGEINT math
    // reproduces the Spark longs bit-for-bit; the only float op is the
    // final /1e18, which is IEEE-identical in both engines.
    "q_pagerank" ->
      """WITH base AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |             FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT a AS src, b AS dst FROM base
        |      UNION SELECT b AS src, a AS dst FROM base),
        |outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT count(*) AS n,
        |              1000000000000000000 // count(*) AS fx0,
        |              CAST(CAST(1500 AS HUGEINT) * 1000000000000000000
        |                   // (10000 * count(*)) AS BIGINT) AS basefx
        |       FROM nodes),
        |pr0 AS (SELECT node, nn.fx0 AS fx FROM nodes, nn),
        |m1 AS (SELECT e.dst, sum(p.fx // o.outdeg) AS msum
        |       FROM e JOIN pr0 p ON p.node = e.src JOIN outdeg o ON o.src = e.src
        |       GROUP BY 1),
        |pr1 AS (SELECT n.node, CAST(nn.basefx +
        |              CAST(coalesce(m.msum, 0) AS HUGEINT) * 8500 // 10000 AS BIGINT) AS fx
        |        FROM nodes n CROSS JOIN nn LEFT JOIN m1 m ON m.dst = n.node),
        |m2 AS (SELECT e.dst, sum(p.fx // o.outdeg) AS msum
        |       FROM e JOIN pr1 p ON p.node = e.src JOIN outdeg o ON o.src = e.src
        |       GROUP BY 1),
        |pr2 AS (SELECT n.node, CAST(nn.basefx +
        |              CAST(coalesce(m.msum, 0) AS HUGEINT) * 8500 // 10000 AS BIGINT) AS fx
        |        FROM nodes n CROSS JOIN nn LEFT JOIN m2 m ON m.dst = n.node),
        |m3 AS (SELECT e.dst, sum(p.fx // o.outdeg) AS msum
        |       FROM e JOIN pr2 p ON p.node = e.src JOIN outdeg o ON o.src = e.src
        |       GROUP BY 1),
        |pr3 AS (SELECT n.node, CAST(nn.basefx +
        |              CAST(coalesce(m.msum, 0) AS HUGEINT) * 8500 // 10000 AS BIGINT) AS fx
        |        FROM nodes n CROSS JOIN nn LEFT JOIN m3 m ON m.dst = n.node)
        |SELECT node, CAST(fx AS DOUBLE) / 1e18 AS pr FROM pr3
        |ORDER BY pr DESC, node LIMIT 20""".stripMargin,
    // mirror of Graph.personalizedPageRank: same integer recurrence with
    // the teleport CASE'd onto the seed set (the engine's zero-crate
    // frontier filter only drops exact-zero summands, so summing them
    // here changes nothing)
    "q_ppr" ->
      s"""WITH base AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |             FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT a AS src, b AS dst FROM base
         |      UNION SELECT b AS src, a AS dst FROM base),
         |outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |m1 AS (SELECT e.dst,
         |              sum((CASE WHEN e.src IN (${PprSeeds.mkString(", ")})
         |                        THEN $PprSeedFx ELSE 0 END) // o.outdeg) AS msum
         |       FROM e JOIN outdeg o ON o.src = e.src GROUP BY 1),
         |pr1 AS (SELECT n.node, CAST(
         |              (CASE WHEN n.node IN (${PprSeeds.mkString(", ")})
         |                    THEN $PprBaseFx ELSE 0 END) +
         |              CAST(coalesce(m.msum, 0) AS HUGEINT) * 8500 // 10000 AS BIGINT) AS fx
         |        FROM nodes n LEFT JOIN m1 m ON m.dst = n.node),
         |m2 AS (SELECT e.dst, sum(p.fx // o.outdeg) AS msum
         |       FROM e JOIN pr1 p ON p.node = e.src JOIN outdeg o ON o.src = e.src
         |       GROUP BY 1),
         |pr2 AS (SELECT n.node, CAST(
         |              (CASE WHEN n.node IN (${PprSeeds.mkString(", ")})
         |                    THEN $PprBaseFx ELSE 0 END) +
         |              CAST(coalesce(m.msum, 0) AS HUGEINT) * 8500 // 10000 AS BIGINT) AS fx
         |        FROM nodes n LEFT JOIN m2 m ON m.dst = n.node),
         |m3 AS (SELECT e.dst, sum(p.fx // o.outdeg) AS msum
         |       FROM e JOIN pr2 p ON p.node = e.src JOIN outdeg o ON o.src = e.src
         |       GROUP BY 1),
         |pr3 AS (SELECT n.node, CAST(
         |              (CASE WHEN n.node IN (${PprSeeds.mkString(", ")})
         |                    THEN $PprBaseFx ELSE 0 END) +
         |              CAST(coalesce(m.msum, 0) AS HUGEINT) * 8500 // 10000 AS BIGINT) AS fx
         |        FROM nodes n LEFT JOIN m3 m ON m.dst = n.node)
         |SELECT node, CAST(fx AS DOUBLE) / 1e18 AS pr FROM pr3
         |ORDER BY pr DESC, node LIMIT 30""".stripMargin,
    // mirror of Graph.bfsHops: the recursive closure enumerates every
    // (node, hops ≤ 3) path endpoint; min(hops) is the BFS distance —
    // identical to the engine's first-visit-wins frontier
    "q_bfs_hops" ->
      """WITH RECURSIVE base AS (
        |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT a AS src, b AS dst FROM base
        |      UNION SELECT b AS src, a AS dst FROM base),
        |bfs(node, hops) AS (
        |  SELECT * FROM (VALUES (CAST(4 AS BIGINT), CAST(0 AS BIGINT)),
        |                        (CAST(8 AS BIGINT), CAST(0 AS BIGINT))) v(node, hops)
        |  UNION
        |  SELECT e.dst, b.hops + 1 FROM bfs b JOIN e ON e.src = b.node
        |  WHERE b.hops < 3)
        |SELECT node, min(hops) AS hops FROM bfs GROUP BY 1""".stripMargin,
    // mirror of Graph.degreeDistribution over partCoPurchasePairs
    "q_degree_dist" ->
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT node, count(*) AS deg FROM
        |          (SELECT u AS node FROM pairs
        |           UNION ALL SELECT v FROM pairs) t GROUP BY 1)
        |SELECT deg, count(*) AS n_nodes FROM deg GROUP BY 1""".stripMargin,
    // mirror of Graph.harmonicCentrality: per-seed BFS to 6 hops, min
    // dist per (seed, node), exact integer 60 // d reciprocals
    "q_harmonic" -> {
      val seedRows = HarmonicSeeds
        .map(s => s"(CAST($s AS BIGINT), CAST($s AS BIGINT), CAST(0 AS BIGINT))")
        .mkString(", ")
      s"""WITH RECURSIVE base AS (
         |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT a AS src, b AS dst FROM base
         |      UNION SELECT b AS src, a AS dst FROM base),
         |bfs(seed, node, dist) AS (
         |  SELECT * FROM (VALUES $seedRows) v(seed, node, dist)
         |  UNION
         |  SELECT b.seed, e.dst, b.dist + 1 FROM bfs b JOIN e ON e.src = b.node
         |  WHERE b.dist < $HarmonicHops),
         |m AS (SELECT seed, node, min(dist) AS dist FROM bfs GROUP BY 1, 2)
         |SELECT node, CAST(sum(60 // dist) AS BIGINT) AS harmonic_x60,
         |       count(*) AS n_seeds_reached
         |FROM m WHERE dist > 0 GROUP BY 1
         |ORDER BY harmonic_x60 DESC, node LIMIT 20""".stripMargin
    },
    // mirror of Graph.triangleStats over Graph.partCoPurchasePairs:
    // same (deg, id) orientation, wedge-at-smallest-vertex census
    "q_triangles" ->
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT node, count(*) AS deg FROM
        |          (SELECT u AS node FROM pairs
        |           UNION ALL SELECT v FROM pairs) t GROUP BY 1),
        |oriented AS (SELECT
        |    CASE WHEN (du.deg, u) < (dv.deg, v) THEN u ELSE v END AS src,
        |    CASE WHEN (du.deg, u) < (dv.deg, v) THEN v ELSE u END AS dst,
        |    CASE WHEN (du.deg, u) < (dv.deg, v) THEN dv.deg ELSE du.deg END AS ddeg
        |  FROM pairs JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
        |wedges AS (SELECT e1.dst AS b, e2.dst AS c
        |           FROM oriented e1 JOIN oriented e2 ON e1.src = e2.src
        |           WHERE (e1.ddeg, e1.dst) < (e2.ddeg, e2.dst)),
        |tri AS (SELECT count(*) AS triangles FROM wedges w
        |        WHERE EXISTS (SELECT 1 FROM oriented o
        |                      WHERE o.src = w.b AND o.dst = w.c)),
        |wcount AS (SELECT sum(deg * (deg - 1) // 2) AS wedges FROM deg)
        |SELECT CAST(t.triangles AS BIGINT) AS triangles,
        |       CAST(w.wedges AS BIGINT) AS wedges,
        |       CAST(3 * t.triangles AS DOUBLE) / CAST(w.wedges AS DOUBLE)
        |         AS clustering
        |FROM tri t, wcount w""".stripMargin,
    // mirror of Graph.kCore: six unrolled peel rounds — the engine's
    // early exit only skips identity rounds, so the fixed unrolling
    // replays it exactly. Every CTE is MATERIALIZED: each eN is
    // referenced three times by round N+1, so DuckDB's default CTE
    // inlining re-evaluates the whole chain 3^6-fold and blows its
    // temp budget past sf0.01 — materialization makes the oracle one
    // linear pass per round (3 s at sf0.1), same rows
    "q_kcore" ->
      """WITH pairs AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
        |       UNION ALL SELECT v AS src, u AS dst FROM pairs),
        |k1 AS MATERIALIZED (
        |  SELECT src FROM e0 GROUP BY 1 HAVING count(*) >= 80),
        |e1 AS MATERIALIZED (
        |  SELECT src, dst FROM e0 WHERE src IN (SELECT src FROM k1)
        |                            AND dst IN (SELECT src FROM k1)),
        |k2 AS MATERIALIZED (
        |  SELECT src FROM e1 GROUP BY 1 HAVING count(*) >= 80),
        |e2 AS MATERIALIZED (
        |  SELECT src, dst FROM e1 WHERE src IN (SELECT src FROM k2)
        |                            AND dst IN (SELECT src FROM k2)),
        |k3 AS MATERIALIZED (
        |  SELECT src FROM e2 GROUP BY 1 HAVING count(*) >= 80),
        |e3 AS MATERIALIZED (
        |  SELECT src, dst FROM e2 WHERE src IN (SELECT src FROM k3)
        |                            AND dst IN (SELECT src FROM k3)),
        |k4 AS MATERIALIZED (
        |  SELECT src FROM e3 GROUP BY 1 HAVING count(*) >= 80),
        |e4 AS MATERIALIZED (
        |  SELECT src, dst FROM e3 WHERE src IN (SELECT src FROM k4)
        |                            AND dst IN (SELECT src FROM k4)),
        |k5 AS MATERIALIZED (
        |  SELECT src FROM e4 GROUP BY 1 HAVING count(*) >= 80),
        |e5 AS MATERIALIZED (
        |  SELECT src, dst FROM e4 WHERE src IN (SELECT src FROM k5)
        |                            AND dst IN (SELECT src FROM k5)),
        |k6 AS MATERIALIZED (
        |  SELECT src FROM e5 GROUP BY 1 HAVING count(*) >= 80),
        |e6 AS MATERIALIZED (
        |  SELECT src, dst FROM e5 WHERE src IN (SELECT src FROM k6)
        |                            AND dst IN (SELECT src FROM k6))
        |SELECT src AS node, count(*) AS deg FROM e6 GROUP BY 1""".stripMargin,
    // mirror of Graph.resourceAllocation: same 10^-12 fixed-point
    // weights, same degree cap, same total order
    "q_link_ra" ->
      """WITH adj AS (SELECT DISTINCT o_custkey AS z, l_suppkey AS s
        |             FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |deg AS (SELECT z, count(*) AS deg FROM adj GROUP BY 1
        |        HAVING count(*) <= 1000),
        |w AS (SELECT adj.z, adj.s, 1000000000000 // deg.deg AS wfx
        |      FROM adj JOIN deg ON adj.z = deg.z),
        |p AS (SELECT a.s AS item_a, b.s AS item_b, count(*) AS cn,
        |             sum(a.wfx) AS ra_fx
        |      FROM w a JOIN w b ON a.z = b.z AND a.s < b.s
        |      GROUP BY 1, 2)
        |SELECT item_a, item_b, cn, CAST(ra_fx AS DOUBLE) / 1e12 AS ra
        |FROM p ORDER BY ra_fx DESC, item_a, item_b LIMIT 50""".stripMargin,
    // mirror of Graph.degreeAssortativity: integer moments over both
    // directed copies, the identical double Pearson tail
    "q_assortativity" ->
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT node, count(*) AS deg FROM
        |          (SELECT u AS node FROM pairs
        |           UNION ALL SELECT v FROM pairs) t GROUP BY 1),
        |e AS (SELECT u AS src, v AS dst FROM pairs
        |      UNION ALL SELECT v AS src, u AS dst FROM pairs),
        |m AS (SELECT count(*) AS m2,
        |             CAST(sum(dx.deg) AS DOUBLE) AS sx,
        |             CAST(sum(dy.deg) AS DOUBLE) AS sy,
        |             CAST(sum(dx.deg * dy.deg) AS DOUBLE) AS sxy,
        |             CAST(sum(dx.deg * dx.deg) AS DOUBLE) AS sxx,
        |             CAST(sum(dy.deg * dy.deg) AS DOUBLE) AS syy
        |      FROM e JOIN deg dx ON dx.node = e.src
        |             JOIN deg dy ON dy.node = e.dst)
        |SELECT m2 AS n_edges,
        |       CASE WHEN m2 * sxx - sx * sx <= 0 OR m2 * syy - sy * sy <= 0
        |            THEN NULL
        |            ELSE (m2 * sxy - sx * sy) /
        |                   (sqrt(m2 * sxx - sx * sx) * sqrt(m2 * syy - sy * sy))
        |       END AS assortativity
        |FROM m""".stripMargin,
    // mirror of Graph.localClustering: q_triangles' oriented wedge
    // census with the apex kept, corners credited via 3-way union
    "q_local_clustering" ->
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT node, count(*) AS deg FROM
        |          (SELECT u AS node FROM pairs
        |           UNION ALL SELECT v FROM pairs) t GROUP BY 1),
        |oriented AS (SELECT
        |    CASE WHEN (du.deg, u) < (dv.deg, v) THEN u ELSE v END AS src,
        |    CASE WHEN (du.deg, u) < (dv.deg, v) THEN v ELSE u END AS dst,
        |    CASE WHEN (du.deg, u) < (dv.deg, v) THEN dv.deg ELSE du.deg END AS ddeg
        |  FROM pairs JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
        |wedges AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |           FROM oriented e1 JOIN oriented e2 ON e1.src = e2.src
        |           WHERE (e1.ddeg, e1.dst) < (e2.ddeg, e2.dst)),
        |tris AS (SELECT a, b, c FROM wedges w
        |         WHERE EXISTS (SELECT 1 FROM oriented o
        |                       WHERE o.src = w.b AND o.dst = w.c)),
        |tcnt AS (SELECT node, CAST(count(*) AS BIGINT) AS tri FROM
        |           (SELECT a AS node FROM tris
        |            UNION ALL SELECT b FROM tris
        |            UNION ALL SELECT c FROM tris) t GROUP BY 1)
        |SELECT d.node, d.deg, coalesce(t.tri, 0) AS tri,
        |       CAST(coalesce(t.tri, 0) * 2 AS DOUBLE) /
        |         CAST(d.deg * (d.deg - 1) AS DOUBLE) AS lcc
        |FROM deg d LEFT JOIN tcnt t ON t.node = d.node
        |WHERE d.deg >= 2
        |ORDER BY lcc DESC, d.node LIMIT 50""".stripMargin,
    // mirror of Graph.sssp: three unrolled min-plus relaxations over
    // the same integer weights (min/+ over BIGINT are exact)
    "q_sssp" ->
      """WITH pc AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS cnt
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |e AS (SELECT u AS src, v AS dst, 1000000000000 // cnt AS w FROM pc
        |      UNION ALL
        |      SELECT v AS src, u AS dst, 1000000000000 // cnt AS w FROM pc),
        |d0 AS (SELECT DISTINCT p_partkey AS node, CAST(0 AS BIGINT) AS dist
        |       FROM part WHERE p_brand = 'Brand#1'),
        |d1 AS (SELECT node, min(dist) AS dist FROM (
        |  SELECT node, dist FROM d0
        |  UNION ALL
        |  SELECT e.dst AS node, d0.dist + e.w AS dist
        |  FROM e JOIN d0 ON d0.node = e.src) GROUP BY 1),
        |d2 AS (SELECT node, min(dist) AS dist FROM (
        |  SELECT node, dist FROM d1
        |  UNION ALL
        |  SELECT e.dst AS node, d1.dist + e.w AS dist
        |  FROM e JOIN d1 ON d1.node = e.src) GROUP BY 1),
        |d3 AS (SELECT node, min(dist) AS dist FROM (
        |  SELECT node, dist FROM d2
        |  UNION ALL
        |  SELECT e.dst AS node, d2.dist + e.w AS dist
        |  FROM e JOIN d2 ON d2.node = e.src) GROUP BY 1)
        |SELECT node, dist FROM d3""".stripMargin,
    // mirror of Graph.labelPropagation: two unrolled synchronous
    // rounds, argmax = (max count, then min label), prev-label carry
    "q_modularity" ->
      // LPA CTE = q_label_prop's verbatim; int128 numerators convert to
      // double via VARCHAR (the correctly-rounded path)
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS (SELECT u AS src, v AS dst FROM pairs
        |      UNION ALL SELECT v AS src, u AS dst FROM pairs),
        |n AS (SELECT DISTINCT src AS node FROM e),
        |l0 AS (SELECT node, node AS lab FROM n),
        |c1 AS (SELECT e.dst, l0.lab, count(*) AS cnt
        |       FROM e JOIN l0 ON l0.node = e.src GROUP BY 1, 2),
        |m1 AS (SELECT dst, max(cnt) AS mc FROM c1 GROUP BY 1),
        |b1 AS (SELECT c1.dst AS node, min(c1.lab) AS lab
        |       FROM c1 JOIN m1 ON m1.dst = c1.dst AND c1.cnt = m1.mc
        |       GROUP BY 1),
        |l1 AS (SELECT l0.node, coalesce(b1.lab, l0.lab) AS lab
        |       FROM l0 LEFT JOIN b1 ON b1.node = l0.node),
        |c2 AS (SELECT e.dst, l1.lab, count(*) AS cnt
        |       FROM e JOIN l1 ON l1.node = e.src GROUP BY 1, 2),
        |m2 AS (SELECT dst, max(cnt) AS mc FROM c2 GROUP BY 1),
        |b2 AS (SELECT c2.dst AS node, min(c2.lab) AS lab
        |       FROM c2 JOIN m2 ON m2.dst = c2.dst AND c2.cnt = m2.mc
        |       GROUP BY 1),
        |l2 AS (SELECT l1.node, coalesce(b2.lab, l1.lab) AS lab
        |       FROM l1 LEFT JOIN b2 ON b2.node = l1.node),
        |mm AS (SELECT count(*) AS m FROM pairs),
        |intr AS (SELECT la.lab AS label, count(*) AS e_in
        |         FROM pairs p JOIN l2 la ON la.node = p.u
        |                      JOIN l2 lb ON lb.node = p.v
        |         WHERE la.lab = lb.lab GROUP BY 1),
        |deg AS (SELECT node, count(*) AS deg
        |        FROM (SELECT u AS node FROM pairs
        |              UNION ALL SELECT v AS node FROM pairs)
        |        GROUP BY 1),
        |dc AS (SELECT l2.lab AS label, count(*) AS n_nodes,
        |              CAST(sum(deg.deg) AS BIGINT) AS d_sum
        |       FROM l2 JOIN deg ON deg.node = l2.node GROUP BY 1)
        |SELECT dc.label, n_nodes,
        |       CAST(coalesce(e_in, 0) AS BIGINT) AS internal_edges, d_sum,
        |       CAST(CAST(4 * CAST(m AS HUGEINT)
        |                   * CAST(coalesce(e_in, 0) AS HUGEINT)
        |                 - CAST(d_sum AS HUGEINT) * CAST(d_sum AS HUGEINT)
        |                 AS VARCHAR) AS DOUBLE)
        |         / CAST(CAST(4 * CAST(m AS HUGEINT) * CAST(m AS HUGEINT)
        |                     AS VARCHAR) AS DOUBLE) AS modularity_term
        |FROM dc LEFT JOIN intr ON intr.label = dc.label CROSS JOIN mm""".stripMargin,
    "q_label_prop" ->
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS (SELECT u AS src, v AS dst FROM pairs
        |      UNION ALL SELECT v AS src, u AS dst FROM pairs),
        |n AS (SELECT DISTINCT src AS node FROM e),
        |l0 AS (SELECT node, node AS lab FROM n),
        |c1 AS (SELECT e.dst, l0.lab, count(*) AS cnt
        |       FROM e JOIN l0 ON l0.node = e.src GROUP BY 1, 2),
        |m1 AS (SELECT dst, max(cnt) AS mc FROM c1 GROUP BY 1),
        |b1 AS (SELECT c1.dst AS node, min(c1.lab) AS lab
        |       FROM c1 JOIN m1 ON m1.dst = c1.dst AND c1.cnt = m1.mc
        |       GROUP BY 1),
        |l1 AS (SELECT l0.node, coalesce(b1.lab, l0.lab) AS lab
        |       FROM l0 LEFT JOIN b1 ON b1.node = l0.node),
        |c2 AS (SELECT e.dst, l1.lab, count(*) AS cnt
        |       FROM e JOIN l1 ON l1.node = e.src GROUP BY 1, 2),
        |m2 AS (SELECT dst, max(cnt) AS mc FROM c2 GROUP BY 1),
        |b2 AS (SELECT c2.dst AS node, min(c2.lab) AS lab
        |       FROM c2 JOIN m2 ON m2.dst = c2.dst AND c2.cnt = m2.mc
        |       GROUP BY 1),
        |l2 AS (SELECT l1.node, coalesce(b2.lab, l1.lab) AS lab
        |       FROM l1 LEFT JOIN b2 ON b2.node = l1.node)
        |SELECT lab AS label, count(*) AS n_members
        |FROM l2 GROUP BY 1
        |ORDER BY n_members DESC, label LIMIT 20""".stripMargin,
    "q_tpch_q5" ->
      """SELECT n_name,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS revenue,
        |       count(*) AS n_lineitems
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin,
    "q_tpch_q9" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |         AS sum_profit,
        |       count(*) AS n_lineitems
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        |GROUP BY 1, 2""".stripMargin,
    "q_tpch_q21" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier s
        |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |WHERE l1.l_returnflag = 'R' AND o.o_orderstatus = 'F'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    // mirror of Relational.minCostSupplier: per-part min observed
    // decimal cost; equality join keeps every achieving supplier
    "q_tpch_q2" ->
      """WITH parts AS (
        |  SELECT p_partkey, p_brand FROM part
        |  WHERE p_size = 15 AND p_type = 'ECONOMY'),
        |rs AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON n_nationkey = s_nationkey
        |  JOIN region ON r_regionkey = n_regionkey AND r_name = 'EUROPE'),
        |cost AS (
        |  SELECT l_partkey, l_suppkey,
        |         min(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM parts)
        |    AND l_suppkey IN (SELECT s_suppkey FROM rs)
        |  GROUP BY 1, 2),
        |mc AS (SELECT l_partkey, min(cost) AS min_cost FROM cost GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, c.l_partkey AS p_partkey, p_brand,
        |       CAST(c.cost AS DOUBLE) AS supply_cost
        |FROM cost c
        |JOIN mc ON mc.l_partkey = c.l_partkey AND c.cost = mc.min_cost
        |JOIN rs ON s_suppkey = c.l_suppkey
        |JOIN parts ON p_partkey = c.l_partkey
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,
    // mirror of Relational.importantPartValue: integer cent·bp units in
    // DECIMAL(38,0); the HAVING compare stays integral on both engines
    "q_tpch_q11" ->
      """WITH pp AS (
        |  SELECT l_partkey,
        |         sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |                  (10000 - CAST(CAST(l_discount AS DECIMAL(6,4)) * 10000 AS BIGINT))
        |             AS DECIMAL(38,0))) AS val_units
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier
        |    JOIN nation ON n_nationkey = s_nationkey AND n_name = 'NATION_7')
        |  GROUP BY 1),
        |t AS (SELECT sum(val_units) AS total_units FROM pp)
        |SELECT l_partkey AS p_partkey,
        |       CAST(val_units AS DOUBLE) / 1e6 AS part_value
        |FROM pp, t
        |WHERE val_units * 1000 > total_units
        |ORDER BY part_value DESC, p_partkey
        |LIMIT 100""".stripMargin,
    // mirror of Relational.supplierCountByPartAttrs: distinct trade
    // pairs, negative-balance suppliers excluded
    "q_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 7, 10, 15, 22, 29, 36)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                        WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        |LIMIT 100""".stripMargin,
    // mirror of Relational.excessShippers: prefix parts, one shipping
    // year, exact decimal quantity sum over the threshold
    "q_tpch_q20" ->
      """WITH heavy AS (
        |  SELECT l_suppkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_name LIKE 'small%')
        |  GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 500)
        |SELECT s_suppkey, s_name, n_name,
        |       CAST(qty AS DOUBLE) AS shipped_qty
        |FROM supplier
        |JOIN heavy ON s_suppkey = l_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY s_name""".stripMargin,
    "q_theta_band" ->
      """WITH bands AS (
        |  SELECT CAST(r_regionkey AS BIGINT) AS band,
        |         r_regionkey * 2000.0 AS lo, (r_regionkey + 1) * 2000.0 AS hi
        |  FROM region)
        |SELECT band, count(*) AS n_customers,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer JOIN bands ON c_acctbal >= lo AND c_acctbal < hi
        |GROUP BY band""".stripMargin,
    "q_topk_per_group" ->
      """SELECT c_mktsegment, rk, o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY c_mktsegment
        |           ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |WHERE rk <= 3""".stripMargin,
    "q_mode" ->
      """SELECT o_orderstatus, mode_priority, n_orders FROM (
        |  SELECT o_orderstatus, o_orderpriority AS mode_priority,
        |         count(*) AS n_orders,
        |         row_number() OVER (PARTITION BY o_orderstatus
        |           ORDER BY count(*) DESC, o_orderpriority) AS rk
        |  FROM orders GROUP BY 1, 2)
        |WHERE rk = 1""".stripMargin,
    "q_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       count(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       count(*) AS n_orders
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "q_except" ->
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'""".stripMargin,
    "q_intersect" ->
      """SELECT c_custkey AS custkey FROM customer
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders""".stripMargin,
    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
        |       count(*) AS n,
        |       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events
        |GROUP BY 1""".stripMargin,
    "q_asof_native" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
        |       epoch_us(e.ts) AS err_ts_us, e.value AS err_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON p.user_id = e.user_id AND e.ts <= p.ts""".stripMargin,
    "q_json_struct" ->
      """SELECT event_type,
        |       count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
        |       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q_asof_join" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
        |       epoch_us(e.ts) AS err_ts_us, e.value AS err_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON p.user_id = e.user_id AND e.ts <= p.ts""".stripMargin,
    "q_asof_forward" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
        |       epoch_us(e.ts) AS next_ts_us, e.value AS next_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
        |  ON p.user_id = e.user_id AND e.ts >= p.ts""".stripMargin,
    "q_asof_nearest" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |e AS (SELECT * FROM events WHERE event_type = 'error'),
        |b AS (SELECT p.event_id, p.user_id, p.ts,
        |             e.ts AS bts, e.value AS bval
        |      FROM p ASOF LEFT JOIN e
        |        ON p.user_id = e.user_id AND e.ts <= p.ts),
        |f AS (SELECT p.event_id, e.ts AS fts, e.value AS fval
        |      FROM p ASOF LEFT JOIN e
        |        ON p.user_id = e.user_id AND e.ts >= p.ts)
        |SELECT b.event_id, b.user_id, epoch_us(b.ts) AS ts_us,
        |       CASE WHEN bts IS NOT NULL AND (fts IS NULL OR
        |                 epoch_us(b.ts) - epoch_us(bts) <=
        |                 epoch_us(fts) - epoch_us(b.ts))
        |            THEN epoch_us(bts) ELSE epoch_us(fts) END AS near_ts_us,
        |       CASE WHEN bts IS NOT NULL AND (fts IS NULL OR
        |                 epoch_us(b.ts) - epoch_us(bts) <=
        |                 epoch_us(fts) - epoch_us(b.ts))
        |            THEN bval ELSE fval END AS near_value
        |FROM b JOIN f USING (event_id)""".stripMargin,
    "q_text_stats" ->
      """SELECT doc_id,
        |       length(text) AS n_chars_calc,
        |       len(string_split(text, ' ')) AS n_tokens,
        |       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
        |       CAST(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS DOUBLE)
        |         / len(string_split(text, ' ')) AS avg_token_len
        |FROM documents""".stripMargin,
    "q_corpus_mix" ->
      """WITH per AS (SELECT source, count(*) AS n_docs,
        |                    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |                      AS n_tokens,
        |                    CAST(sum(length(text)) AS BIGINT) AS n_chars
        |             FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t_docs,
        |               CAST(sum(n_tokens) AS BIGINT) AS t_tokens,
        |               CAST(sum(n_chars) AS BIGINT) AS t_chars
        |        FROM per)
        |SELECT source, n_docs, n_tokens, n_chars,
        |       CAST(n_docs AS DOUBLE) / CAST(t_docs AS DOUBLE) AS doc_share,
        |       CAST(n_tokens AS DOUBLE) / CAST(t_tokens AS DOUBLE)
        |         AS token_share,
        |       CAST(n_chars AS DOUBLE) / CAST(t_chars AS DOUBLE) AS char_share
        |FROM per, tot""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        |       len(regexp_extract_all(text, '[a-z]+')) AS n_alpha,
        |       len(regexp_extract_all(text, '[0-9]+')) AS n_num,
        |       len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_sym
        |FROM documents""".stripMargin,
    // map construction + explode ≡ the UNION-ALL unpivot of the class counts
    "q_map_funcs" ->
      """WITH tc AS (
        |  SELECT doc_id,
        |         len(regexp_extract_all(text, '[a-z]+')) AS n_alpha,
        |         len(regexp_extract_all(text, '[0-9]+')) AS n_num,
        |         len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_sym
        |  FROM documents)
        |SELECT doc_id, 'alpha' AS token_class, n_alpha AS n FROM tc
        |UNION ALL SELECT doc_id, 'num', n_num FROM tc
        |UNION ALL SELECT doc_id, 'sym', n_sym FROM tc""".stripMargin,
    "q_lang_id" ->
      """SELECT doc_id, lang, en_hits, de_hits, es_hits, fr_hits,
        |       CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
        |            WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
        |            WHEN es_hits >= fr_hits THEN 'es'
        |            ELSE 'fr' END AS lang_pred
        |FROM (SELECT doc_id, lang,
        |             len(regexp_extract_all(text, '\b(the|a|of|and)\b')) AS en_hits,
        |             len(regexp_extract_all(text, '\b(der|die|das|und)\b')) AS de_hits,
        |             len(regexp_extract_all(text, '\b(el|los|las|y)\b')) AS es_hits,
        |             len(regexp_extract_all(text, '\b(le|les|et|une)\b')) AS fr_hits
        |      FROM documents)""".stripMargin,
    "q_quality_score" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS DOUBLE) / length(text) AS tokens_per_char,
        |       CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |         / len(string_split(text, ' ')) AS distinct_ratio,
        |       CAST(len(regexp_extract_all(text, '\b(the|a)\b')) AS DOUBLE)
        |         / len(string_split(text, ' ')) AS stopword_ratio,
        |       floor((CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |                / len(string_split(text, ' ')) * 0.5
        |              + least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3
        |              + least(CAST(len(regexp_extract_all(text, '\b(the|a)\b')) AS DOUBLE)
        |                        / len(string_split(text, ' ')) * 5.0, 1.0) * 0.2)
        |             * 1000000.0 + 0.5) / 1000000.0 AS quality
        |FROM documents""".stripMargin,
    "q_fingerprint" ->
      s"""SELECT doc_id,
         |       list_reduce(
         |         list_prepend(CAST(0 AS BIGINT),
         |           list_transform(string_split(text, ' '), t -> ${sqlTokHash("t")} % $P)),
         |         (acc, x) -> (acc*31 + x) % $P) AS fingerprint
         |FROM documents""".stripMargin,
    // rarity-weighted term score: all-rational arithmetic (no ln), so the
    // doubles are exactly-rounded identically on both engines
    "q_top_terms" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         |s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         |             CAST(tf.tf AS DOUBLE) *
         |               (CAST(n.n_docs + 1 AS DOUBLE) / CAST(dfq.df + 1 AS DOUBLE)) AS score
         |      FROM tf JOIN dfq USING (term) CROSS JOIN n),
         |r AS (SELECT *, CAST(row_number() OVER (
         |        PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rk FROM s)
         |SELECT doc_id, term, tf, df, score, rk FROM r WHERE rk <= $TopTermsK""".stripMargin,
    "q_heavy_hitters" ->
      """SELECT tok AS term, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY 1 ORDER BY n DESC, term LIMIT 20""".stripMargin,
    // mirror of TextAnalysis.bm25: log-free rational idf, Robertson
    // tf-saturation, fixed-order pivot + coalesced left-to-right sum —
    // every double op is correctly rounded and evaluated in the same
    // order as the Spark expression tree, so scores are bit-identical
    "q_bm25" -> {
      val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
      val cases = Bm25Terms.zipWithIndex.map { case (t, i) =>
        s"max(CASE WHEN term = '$t' THEN s END) AS s_$i" }.mkString(", ")
      val total = Bm25Terms.indices
        .map(i => s"coalesce(s_$i, CAST(0.0 AS DOUBLE))").mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |dls AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         |tot AS (SELECT count(*) AS n_docs, sum(dl) AS n_tokens FROM dls),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term IN ($termList) GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |s AS (SELECT tf.doc_id, dls.dl, tf.term,
         |        ((CAST(tot.n_docs - dfq.df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
         |         (CAST(dfq.df AS DOUBLE) + CAST(0.5 AS DOUBLE))) *
         |        ((CAST(tf.tf AS DOUBLE) * (CAST($Bm25K1 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
         |         (CAST(tf.tf AS DOUBLE) + CAST($Bm25K1 AS DOUBLE) *
         |          ((CAST(1.0 AS DOUBLE) - CAST($Bm25B AS DOUBLE)) +
         |           CAST($Bm25B AS DOUBLE) *
         |           (CAST(dls.dl AS DOUBLE) /
         |            (CAST(tot.n_tokens AS DOUBLE) / CAST(tot.n_docs AS DOUBLE)))))) AS s
         |      FROM tf JOIN dfq USING (term) JOIN dls USING (doc_id) CROSS JOIN tot),
         |p AS (SELECT doc_id, dl, $cases FROM s GROUP BY 1, 2),
         |t AS (SELECT doc_id, dl, $total AS bm25
         |      FROM p ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK)
         |SELECT doc_id, dl, bm25,
         |       CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rk
         |FROM t""".stripMargin
    },
    // mirror of TextAnalysis.bigramFamiliarity: exact integer sums of
    // corpus bigram frequencies; the only double op is the final division
    "q_bigram_lm" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |bg AS (SELECT doc_id, t.w[1] || ' ' || t.w[2] AS bigram
        |       FROM d, UNNEST(list_zip(d.ws[1:len(d.ws)-1], d.ws[2:])) AS t(w)
        |       WHERE len(d.ws) >= 2),
        |c AS (SELECT bigram, count(*) AS bg_n FROM bg GROUP BY 1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       CAST(sum(bg_n) AS BIGINT) AS familiarity_sum,
        |       CAST(sum(CASE WHEN bg_n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       CAST(sum(bg_n) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_familiarity
        |FROM bg JOIN c USING (bigram) GROUP BY 1""".stripMargin,
    // mirror of TextAnalysis.vocabCoverage: top-V vocab (ties to the
    // smaller term), OOV volume per source, one exact-int division
    "q_vocab_coverage" ->
      s"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
         |v AS (SELECT term FROM (SELECT term, count(*) AS n FROM tok
         |      GROUP BY 1 ORDER BY n DESC, term LIMIT $VocabK)),
         |j AS (SELECT tok.source, CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
         |      FROM tok LEFT JOIN v ON tok.term = v.term)
         |SELECT source, count(*) AS n_tokens,
         |       CAST(sum(oov) AS BIGINT) AS n_oov,
         |       CAST(sum(oov) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_rate
         |FROM j GROUP BY 1""".stripMargin,
    // mirror of TextAnalysis.sourceSimpson: 1 - Σn²/N² with integer Σ
    "q_source_simpson" ->
      """WITH c AS (SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2)
        |SELECT lang, CAST(sum(n) AS BIGINT) AS n_docs, count(*) AS n_sources,
        |       CAST(1.0 AS DOUBLE) -
        |         CAST(sum(n * n) AS DOUBLE) /
        |         (CAST(sum(n) AS DOUBLE) * CAST(sum(n) AS DOUBLE)) AS simpson
        |FROM c GROUP BY 1""".stripMargin,
    "q_dedup_exact" ->
      s"""WITH docs2 AS ($sqlDocs2)
         |SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keep_doc_id
         |FROM docs2 GROUP BY 1""".stripMargin,
    "q_dedup_keep_first" ->
      s"""WITH docs2 AS ($sqlDocs2)
         |SELECT doc_id, text_hash FROM (
         |  SELECT doc_id, md5(text) AS text_hash,
         |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |  FROM docs2)
         |WHERE rn = 1""".stripMargin,
    "q_ngram_jaccard" ->
      s"""WITH $sqlShingleCtesCapped
         |SELECT doc_id_1, doc_id_2, n_common,
         |       CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) AS jaccard
         |FROM cpairs JOIN csizes s1 ON doc_id_1 = s1.doc_id JOIN csizes s2 ON doc_id_2 = s2.doc_id
         |WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= $MinJaccard""".stripMargin,
    // mirror of Dedup.minhashEstimatorEval: component matches summed as
    // ints over the 16 signature columns; exact side LEFT-joins the
    // brute pairs (a candidate pair can share zero shingles)
    "q_minhash_est" -> {
      val matches = (0 until Dedup.MinHashK)
        .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $sqlShingleCtes,
         |$sqlMinhashSig,
         |m AS (SELECT c.doc_id_1, c.doc_id_2, $matches AS n_match
         |      FROM cand c JOIN sig a ON c.doc_id_1 = a.doc_id
         |                  JOIN sig b ON c.doc_id_2 = b.doc_id),
         |e2 AS (SELECT m.doc_id_1, m.doc_id_2,
         |         CAST(m.n_match AS BIGINT) AS n_match,
         |         coalesce(p.n_common, CAST(0 AS BIGINT)) AS n_common,
         |         s1.n AS n1, s2.n AS n2
         |       FROM m
         |       LEFT JOIN pairs p ON m.doc_id_1 = p.doc_id_1 AND m.doc_id_2 = p.doc_id_2
         |       JOIN sizes s1 ON m.doc_id_1 = s1.doc_id
         |       JOIN sizes s2 ON m.doc_id_2 = s2.doc_id)
         |SELECT doc_id_1, doc_id_2, n_match,
         |       CAST(n_match AS DOUBLE) / CAST(${Dedup.MinHashK} AS DOUBLE) AS est_jaccard,
         |       CAST(n_common AS DOUBLE) / (n1 + n2 - n_common) AS jaccard,
         |       abs(CAST(n_match AS DOUBLE) / CAST(${Dedup.MinHashK} AS DOUBLE) -
         |           CAST(n_common AS DOUBLE) / (n1 + n2 - n_common)) AS abs_err
         |FROM e2""".stripMargin
    },
    // oracle for the prefix-filtered join is BRUTE FORCE over the uncapped
    // shingle universe — the filter is lossless, so the outputs must match
    "q_jaccard_prefix" ->
      s"""WITH $sqlShingleCtes
         |SELECT doc_id_1, doc_id_2, n_common,
         |       CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) AS jaccard
         |FROM pairs JOIN sizes s1 ON doc_id_1 = s1.doc_id JOIN sizes s2 ON doc_id_2 = s2.doc_id
         |WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= $MinJaccard""".stripMargin,
    "q_minhash_lsh" ->
      s"""WITH $sqlShingleCtes,
         |$sqlMinhashSig
         |SELECT p.doc_id_1, p.doc_id_2,
         |       CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) AS jaccard
         |FROM pairs p
         |JOIN cand c ON p.doc_id_1 = c.doc_id_1 AND p.doc_id_2 = c.doc_id_2
         |JOIN sizes s1 ON p.doc_id_1 = s1.doc_id
         |JOIN sizes s2 ON p.doc_id_2 = s2.doc_id
         |WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= $MinJaccard""".stripMargin,
    "q_simhash" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
         |h AS (SELECT doc_id, ${sqlTokHash("tok")} h FROM t),
         |b AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) s
         |      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) j) jj
         |      GROUP BY 1, 2)
         |SELECT doc_id,
         |       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
         |FROM b GROUP BY 1""".stripMargin,
    "q_simhash_neardup" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
         |h AS (SELECT doc_id, ${sqlTokHash("tok")} h FROM t),
         |b AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) s
         |      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) j) jj
         |      GROUP BY 1, 2),
         |sh AS (SELECT doc_id,
         |       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
         |       FROM b GROUP BY 1)
         |SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 4""".stripMargin,
    // connected components as a recursive CTE: reach = labels flowing along
    // symmetric edges; min reachable doc_id ≡ the Spark fixpoint labels
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE
         |t AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
         |h AS (SELECT doc_id, ${sqlTokHash("tok")} h FROM t),
         |b AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) s
         |      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) j) jj
         |      GROUP BY 1, 2),
         |sh AS (SELECT doc_id,
         |       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
         |       FROM b GROUP BY 1),
         |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |      WHERE bit_count(xor(a.simhash, b.simhash)) <= 4),
         |e AS (SELECT d1 AS a, d2 AS b FROM p UNION ALL SELECT d2, d1 FROM p),
         |reach AS (
         |  SELECT DISTINCT a AS doc_id, a AS lab FROM e
         |  UNION
         |  SELECT e.b AS doc_id, r.lab FROM reach r JOIN e ON e.a = r.doc_id)
         |SELECT doc_id, min(lab) AS cluster_id FROM reach GROUP BY doc_id""".stripMargin,
    "q_canonical_docs" ->
      // the cluster CTE is q_dedup_clusters' oracle verbatim, plus the
      // per-cluster (max chars, min doc_id) argmax
      s"""WITH RECURSIVE
         |t AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
         |h AS (SELECT doc_id, ${sqlTokHash("tok")} h FROM t),
         |b AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) s
         |      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) j) jj
         |      GROUP BY 1, 2),
         |sh AS (SELECT doc_id,
         |       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
         |       FROM b GROUP BY 1),
         |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |      WHERE bit_count(xor(a.simhash, b.simhash)) <= 4),
         |e AS (SELECT d1 AS a, d2 AS b FROM p UNION ALL SELECT d2, d1 FROM p),
         |reach AS (
         |  SELECT DISTINCT a AS doc_id, a AS lab FROM e
         |  UNION
         |  SELECT e.b AS doc_id, r.lab FROM reach r JOIN e ON e.a = r.doc_id),
         |cl AS (SELECT doc_id, min(lab) AS cluster_id FROM reach GROUP BY doc_id),
         |m AS (SELECT cl.cluster_id, cl.doc_id, d.n_chars
         |      FROM cl JOIN documents d ON cl.doc_id = d.doc_id),
         |r AS (SELECT cluster_id, count(*) AS n_members,
         |             min({'neg': -n_chars, 'd': doc_id}) AS top
         |      FROM m GROUP BY 1)
         |SELECT cluster_id, n_members, top.d AS canonical_doc,
         |       -top.neg AS canonical_chars, n_members - 1 AS n_dropped
         |FROM r""".stripMargin,
    "q_hash_sample" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${sqlTokHash("CAST(doc_id AS VARCHAR)")} % 100 < 10""".stripMargin,
    "q_hash_split" ->
      s"""SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
         |            ELSE 'test' END AS split,
         |       count(*) AS n_docs
         |FROM (SELECT ${sqlTokHash("CAST(doc_id AS VARCHAR)")} % 100 AS b
         |      FROM documents)
         |GROUP BY 1""".stripMargin,
    "q_split_drift" ->
      s"""WITH s AS (
         |  SELECT source,
         |         ${sqlTokHash("CAST(doc_id AS VARCHAR)")} % 100 AS b
         |  FROM documents),
         |per AS (
         |  SELECT source AS cat,
         |         CAST(sum(CASE WHEN b < 80 THEN 1 ELSE 0 END) AS BIGINT) AS train_n,
         |         CAST(sum(CASE WHEN b >= 80 AND b < 90 THEN 1 ELSE 0 END) AS BIGINT) AS val_n
         |  FROM s GROUP BY 1),
         |tot AS (SELECT CAST(sum(train_n) AS BIGINT) AS ttot,
         |               CAST(sum(val_n) AS BIGINT) AS vtot,
         |               count(*) AS n_cats FROM per),
         |d AS (SELECT cat,
         |             abs(CAST(train_n AS DOUBLE) / CAST(ttot AS DOUBLE) -
         |                 CAST(val_n AS DOUBLE) / CAST(vtot AS DOUBLE)) AS diff
         |      FROM per CROSS JOIN tot)
         |SELECT (SELECT n_cats FROM tot) AS n_cats,
         |       CASE WHEN (SELECT ttot FROM tot) = 0 OR (SELECT vtot FROM tot) = 0
         |            THEN NULL
         |            ELSE 0.5e0 * list_reduce(
         |                   list_prepend(CAST(0.0 AS DOUBLE), list(diff ORDER BY cat)),
         |                   (acc, x) -> acc + x)
         |       END AS tv_distance
         |FROM d""".stripMargin,
    // mirror of Sampling.chiSquareDrift: same hash split, 50-char
    // buckets, per-row double chi-square terms in the identical
    // operation order (per-row doubles are summation-order-free)
    "q_chisq_drift" ->
      s"""WITH s AS (
         |  SELECT n_chars,
         |         ${sqlTokHash("CAST(doc_id AS VARCHAR)")} % 100 AS b
         |  FROM documents),
         |per AS (
         |  SELECT n_chars // 50 AS bucket,
         |         CAST(sum(CASE WHEN b < 80 THEN 1 ELSE 0 END) AS BIGINT) AS train_n,
         |         CAST(sum(CASE WHEN b >= 80 AND b < 90 THEN 1 ELSE 0 END) AS BIGINT) AS val_n
         |  FROM s WHERE b < 90 GROUP BY 1),
         |tot AS (SELECT CAST(sum(train_n) AS BIGINT) AS t_tot,
         |               CAST(sum(val_n) AS BIGINT) AS v_tot FROM per),
         |d AS (SELECT bucket, train_n, val_n, t_tot, v_tot,
         |             CAST(train_n + val_n AS DOUBLE) * CAST(t_tot AS DOUBLE) /
         |               CAST(t_tot + v_tot AS DOUBLE) AS et,
         |             CAST(train_n + val_n AS DOUBLE) * CAST(v_tot AS DOUBLE) /
         |               CAST(t_tot + v_tot AS DOUBLE) AS ev
         |      FROM per CROSS JOIN tot)
         |SELECT bucket, train_n, val_n,
         |       CASE WHEN t_tot <= 0 OR v_tot <= 0 THEN NULL
         |            ELSE (CAST(train_n AS DOUBLE) - et) *
         |                   (CAST(train_n AS DOUBLE) - et) / et +
         |                 (CAST(val_n AS DOUBLE) - ev) *
         |                   (CAST(val_n AS DOUBLE) - ev) / ev
         |       END AS chi2_term
         |FROM d ORDER BY bucket""".stripMargin,
    "q_chunk_docs" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
         |c AS (SELECT doc_id, s,
         |             unnest(generate_series(0, greatest(len(s) - 1 - $ChunkOverlap, 0),
         |                    ${ChunkTokens - ChunkOverlap})) AS start_tok
         |      FROM t)
         |SELECT doc_id,
         |       start_tok // ${ChunkTokens - ChunkOverlap} AS chunk_id,
         |       start_tok,
         |       array_to_string(s[start_tok + 1 : start_tok + $ChunkTokens], ' ') AS chunk_text,
         |       least(len(s) - start_tok, $ChunkTokens) AS n_chunk_tokens
         |FROM c""".stripMargin,
    "q_pack_sequences" ->
      s"""WITH b AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         |                  ${sqlTokHash("CAST(doc_id AS VARCHAR)")} % $PackBuckets AS bucket
         |           FROM documents),
         |w AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY bucket
         |               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS end_off
         |      FROM b)
         |SELECT doc_id, bucket, n_tokens, end_off - n_tokens AS start_off,
         |       (end_off - n_tokens) // $PackTokens AS pack_id
         |FROM w""".stripMargin,
    "q_split_leakage" ->
      s"""WITH docs2 AS ($sqlDocs2),
         |s AS (SELECT md5(text) AS text_hash,
         |             CASE WHEN ${sqlTokHash("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
         |                  WHEN ${sqlTokHash("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
         |                  ELSE 'test' END AS split
         |      FROM docs2),
         |l AS (SELECT text_hash FROM s GROUP BY 1 HAVING count(DISTINCT split) > 1)
         |SELECT count(*) AS n_leaked_hashes FROM l""".stripMargin,
    "q_similarity_topk" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = $QueryVecId)
         |SELECT vec_id, label, ${sqlCosine("v", "qv")} AS sim
         |FROM e, q
         |ORDER BY sim DESC, vec_id LIMIT $TopKSim""".stripMargin,
    "q_sim_topk_batch" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e
         |      WHERE vec_id IN (${BatchQueryIds.mkString(", ")})),
         |s AS (SELECT q.query_id, e.vec_id, e.label,
         |             ${sqlCosine("e.v", "q.qv")} AS sim
         |      FROM e CROSS JOIN q),
         |r AS (SELECT *, CAST(row_number() OVER (
         |        PARTITION BY query_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rk FROM s)
         |SELECT query_id, vec_id, label, sim, rk FROM r WHERE rk <= $TopKSim""".stripMargin,
    // mirror of Similarity.annTopK: identical md5-derived hyperplane
    // weights ([[Similarity.planeWeight]]), same left-fold dots, so the
    // bucket assignment and the top-k agree exactly
    "q_ann_topk" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
         |planes AS (
         |  SELECT p, [ (('0x' || substr(md5(p::VARCHAR || '_' || (d-1)::VARCHAR), 1, 15))::BIGINT
         |               % 2001 - 1000)::DOUBLE
         |              for d in generate_series(1, 64) ] AS w
         |  FROM (SELECT unnest(generate_series(0, 3)) AS p)),
         |b AS (
         |  SELECT e.vec_id,
         |         CAST(sum(CASE WHEN ${sqlDot("e.v", "planes.w")} > 0
         |                       THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS ann_bucket
         |  FROM e, planes GROUP BY 1),
         |q AS (SELECT b.ann_bucket AS q_bucket, e.v AS qv
         |      FROM b JOIN e USING (vec_id) WHERE vec_id = $QueryVecId)
         |SELECT e.vec_id, e.label, ${sqlCosine("e.v", "qv")} AS sim
         |FROM e JOIN b USING (vec_id), q
         |WHERE b.ann_bucket = q.q_bucket
         |ORDER BY sim DESC, vec_id LIMIT $TopKSim""".stripMargin,
    // mirror of Similarity.rrfFusion over the q_similarity_topk and
    // q_ann_topk retrievals: integer 10^12 // (60 + rank) weights
    "q_rrf_fusion" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
         |qd AS (SELECT v AS qv FROM e WHERE vec_id = $QueryVecId),
         |dense AS (SELECT vec_id, label, ${sqlCosine("v", "qv")} AS sim
         |          FROM e, qd ORDER BY sim DESC, vec_id LIMIT $TopKSim),
         |planes AS (
         |  SELECT p, [ (('0x' || substr(md5(p::VARCHAR || '_' || (d-1)::VARCHAR), 1, 15))::BIGINT
         |               % 2001 - 1000)::DOUBLE
         |              for d in generate_series(1, 64) ] AS w
         |  FROM (SELECT unnest(generate_series(0, 3)) AS p)),
         |b AS (
         |  SELECT e.vec_id,
         |         CAST(sum(CASE WHEN ${sqlDot("e.v", "planes.w")} > 0
         |                       THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS ann_bucket
         |  FROM e, planes GROUP BY 1),
         |qa AS (SELECT b.ann_bucket AS q_bucket, e.v AS qv
         |       FROM b JOIN e USING (vec_id) WHERE vec_id = $QueryVecId),
         |ann AS (SELECT e.vec_id, e.label, ${sqlCosine("e.v", "qv")} AS sim
         |        FROM e JOIN b USING (vec_id), qa
         |        WHERE b.ann_bucket = qa.q_bucket
         |        ORDER BY sim DESC, vec_id LIMIT $TopKSim),
         |u AS (
         |  SELECT vec_id, label,
         |         CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
         |  FROM dense
         |  UNION ALL
         |  SELECT vec_id, label,
         |         CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
         |  FROM ann)
         |SELECT vec_id, label,
         |       CAST(sum(1000000000000 // (60 + rank)) AS BIGINT) AS rrf_fp,
         |       count(*) AS n_lists, min(rank) AS best_rank
         |FROM u GROUP BY 1, 2
         |ORDER BY rrf_fp DESC, vec_id LIMIT $TopKSim""".stripMargin,
    // mirror of Similarity.ivfAnnTopK: seed centroids = embeddings of the
    // IvfCentroids smallest vec_ids; assignment ties break to the smaller
    // centroid id on both engines (first-position argmax = ORDER BY cid)
    "q_ivf_topk" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS w FROM e WHERE vec_id < $IvfCentroids),
         |sims AS (SELECT e.vec_id, e.label, e.v, c.cid,
         |                ${sqlCosine("e.v", "c.w")} AS csim
         |         FROM e, c),
         |asg AS (SELECT vec_id, label, v, cid,
         |               row_number() OVER (PARTITION BY vec_id
         |                                  ORDER BY csim DESC, cid) AS rn
         |        FROM sims),
         |a AS (SELECT vec_id, label, v, cid AS ivf_cluster FROM asg WHERE rn = 1),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = $QueryVecId),
         |probe AS (SELECT cid FROM sims WHERE vec_id = $QueryVecId
         |          ORDER BY csim DESC, cid LIMIT $IvfProbe)
         |SELECT a.vec_id, a.label, a.ivf_cluster, ${sqlCosine("a.v", "qv")} AS sim
         |FROM a, q
         |WHERE a.ivf_cluster IN (SELECT cid FROM probe)
         |ORDER BY sim DESC, vec_id LIMIT $TopKSim""".stripMargin,
    // mirror of Similarity.ivfRefinedCentroidRows (iters = 2): seed
    // assignment, per-dimension fixed-point 2^-40 long sums (coord·2^40
    // is an exact exponent shift, trunc-toward-zero is engine-neutral —
    // no decimal rounding rules anywhere), ONE sum→double mean
    // conversion (/2^40 exact, /n IEEE), re-assignment, final sums —
    // the compared output is pure integer addition
    "q_ivf_refined" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, v AS w FROM e WHERE vec_id < $IvfCentroids),
         |sims0 AS (SELECT e.vec_id, e.v, c0.cid, ${sqlCosine("e.v", "c0.w")} AS csim
         |          FROM e, c0),
         |a0 AS (SELECT vec_id, v, cid FROM (
         |         SELECT vec_id, v, cid,
         |                row_number() OVER (PARTITION BY vec_id
         |                                   ORDER BY csim DESC, cid) AS rn
         |         FROM sims0) WHERE rn = 1),
         |d AS (SELECT unnest(generate_series(1, 64)) AS dim),
         |s1 AS (SELECT cid, dim, count(*) AS n,
         |              sum(CAST(trunc(v[dim] * ${Similarity.SimFx}) AS BIGINT)) AS s
         |       FROM a0, d GROUP BY 1, 2),
         |m1 AS (SELECT cid,
         |              list((CAST(s AS DOUBLE) / ${Similarity.SimFx}) / n
         |                   ORDER BY dim) AS w
         |       FROM s1 GROUP BY 1),
         |c1 AS (SELECT c0.cid, coalesce(m1.w, c0.w) AS w
         |       FROM c0 LEFT JOIN m1 USING (cid)),
         |sims1 AS (SELECT e.vec_id, e.v, c1.cid, ${sqlCosine("e.v", "c1.w")} AS csim
         |          FROM e, c1),
         |a1 AS (SELECT vec_id, v, cid FROM (
         |         SELECT vec_id, v, cid,
         |                row_number() OVER (PARTITION BY vec_id
         |                                   ORDER BY csim DESC, cid) AS rn
         |         FROM sims1) WHERE rn = 1)
         |SELECT cid, count(*) AS n, dim,
         |       CAST(sum(CAST(trunc(v[dim] * ${Similarity.SimFx}) AS BIGINT))
         |            AS BIGINT) AS sum_fx
         |FROM a1, d GROUP BY cid, dim""".stripMargin,
    "q_embedding_neardup" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings)
         |SELECT * FROM (
         |  SELECT a.vec_id vec_id_1, b.vec_id vec_id_2, a.label AS bucket,
         |         ${sqlCosine("a.v", "b.v")} AS sim
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
         |WHERE sim > $CosineMinSim""".stripMargin,
    // connected components over the embedding near-dup relation — the
    // pair CTE is q_embedding_neardup's oracle, the reach CTE is
    // q_dedup_clusters' min-label fixpoint
    "q_semantic_clusters" ->
      s"""WITH RECURSIVE
         |e0 AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
         |p AS (SELECT a.vec_id AS d1, b.vec_id AS d2
         |      FROM e0 a JOIN e0 b ON a.label = b.label AND a.vec_id < b.vec_id
         |      WHERE ${sqlCosine("a.v", "b.v")} > $CosineMinSim),
         |e AS (SELECT d1 AS a, d2 AS b FROM p UNION ALL SELECT d2, d1 FROM p),
         |reach AS (
         |  SELECT DISTINCT a AS vec_id, a AS lab FROM e
         |  UNION
         |  SELECT e.b AS vec_id, r.lab FROM reach r JOIN e ON e.a = r.vec_id)
         |SELECT vec_id, min(lab) AS cluster_id FROM reach GROUP BY vec_id""".stripMargin,
    // recall@k of the LSH-ANN retrieval vs the exact dense top-k: the
    // dense CTE mirrors q_sim_topk_batch, the ann CTEs mirror q_ann_topk
    // per batch query; both sides are k-bounded before the join
    "q_ann_recall" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e
         |      WHERE vec_id IN (${BatchQueryIds.mkString(", ")})),
         |ds AS (SELECT q.query_id, e.vec_id,
         |              CAST(row_number() OVER (PARTITION BY q.query_id
         |                ORDER BY ${sqlCosine("e.v", "q.qv")} DESC, e.vec_id) AS BIGINT) AS rk
         |       FROM e CROSS JOIN q),
         |exact AS (SELECT query_id, vec_id FROM ds WHERE rk <= $TopKSim),
         |planes AS (
         |  SELECT p, [ (('0x' || substr(md5(p::VARCHAR || '_' || (d-1)::VARCHAR), 1, 15))::BIGINT
         |               % 2001 - 1000)::DOUBLE
         |              for d in generate_series(1, 64) ] AS w
         |  FROM (SELECT unnest(generate_series(0, 3)) AS p)),
         |b AS (
         |  SELECT e.vec_id,
         |         CAST(sum(CASE WHEN ${sqlDot("e.v", "planes.w")} > 0
         |                       THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS ann_bucket
         |  FROM e, planes GROUP BY 1),
         |qa AS (SELECT q.query_id, b.ann_bucket AS q_bucket, q.qv
         |       FROM q JOIN b ON b.vec_id = q.query_id),
         |ar AS (SELECT qa.query_id, e.vec_id,
         |              CAST(row_number() OVER (PARTITION BY qa.query_id
         |                ORDER BY ${sqlCosine("e.v", "qa.qv")} DESC, e.vec_id) AS BIGINT) AS rk
         |       FROM e JOIN b USING (vec_id) CROSS JOIN qa
         |       WHERE b.ann_bucket = qa.q_bucket),
         |ann AS (SELECT query_id, vec_id FROM ar WHERE rk <= $TopKSim),
         |h AS (SELECT exact.query_id, count(*) AS n_hits
         |      FROM exact JOIN ann ON exact.query_id = ann.query_id
         |                         AND exact.vec_id = ann.vec_id
         |      GROUP BY 1),
         |x AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY 1)
         |SELECT x.query_id, x.n_exact,
         |       coalesce(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
         |       CAST(coalesce(h.n_hits, CAST(0 AS BIGINT)) AS DOUBLE) /
         |         CAST(x.n_exact AS DOUBLE) AS recall
         |FROM x LEFT JOIN h USING (query_id)""".stripMargin,
    "q_multimodal_meta" ->
      s"""WITH $sqlMedia
         |SELECT media_id, kind,
         |       octet_length(encode(text)) AS n_bytes,
         |       md5(text) AS content_md5,
         |       hex(encode(substr(text, 1, 8))) AS head_hex
         |FROM media""".stripMargin,
    "q_media_features" ->
      s"""WITH $sqlMedia
         |SELECT media_id, kind,
         |       octet_length(encode(text)) AS n_bytes,
         |       octet_length(encode(text)) % 640 AS width,
         |       octet_length(encode(text)) % 480 AS height,
         |       md5(text) AS checksum
         |FROM media""".stripMargin,
    "q_media_resize" ->
      s"""WITH $sqlMedia,
         |hx AS (SELECT media_id, hex(encode(text)) AS h,
         |              octet_length(encode(text)) AS nb FROM media)
         |SELECT media_id, CAST(nb AS BIGINT) AS n_bytes,
         |       CASE WHEN nb = 0 THEN ''
         |            ELSE array_to_string(
         |              list_transform(range(32),
         |                i -> substr(h, CAST((i * nb // 32) AS BIGINT) * 2 + 1, 2)), '')
         |       END AS resized_hex
         |FROM hx""".stripMargin,
    // byte-based slicing mirrored via hex-string arithmetic (DuckDB has no
    // BLOB substring): byte offset b -> hex offset 2b+1, 16 bytes -> 32 chars
    "q_frame_sample" ->
      s"""WITH $sqlMedia,
         |hx AS (SELECT media_id, hex(encode(text)) AS h FROM media)
         |SELECT media_id, frame_idx,
         |       substr(h, frame_idx * ((length(h) // 2) // 4) * 2 + 1, 32) AS frame_hex
         |FROM hx, (SELECT unnest(generate_series(0, 3)) frame_idx) f
         |WHERE length(substr(h, frame_idx * ((length(h) // 2) // 4) * 2 + 1, 32)) > 0""".stripMargin,
    "q_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,
    "q_stats_agg" ->
      """SELECT event_type, n,
        |       sum_v / n AS mean_v,
        |       (sum_vv - sum_v * sum_v / n) / (n - 1) AS var_v
        |FROM (SELECT event_type, count(*) AS n,
        |             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
        |             CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_vv
        |      FROM events GROUP BY event_type)""".stripMargin,
    "q_correlation" ->
      // the scale-4 product sums overflow 2⁵³, where DuckDB's direct
      // decimal→double cast is not correctly rounded — convert via
      // VARCHAR (the correctly-rounded parse, = Spark's Decimal.toDouble)
      """SELECT l_returnflag, n,
        |       (sxy - sx * sy / n) / (n - 1) AS cov_samp,
        |       (n * sxy - sx * sy)
        |         / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS pearson_r
        |FROM (SELECT l_returnflag, count(*) AS n,
        |             CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx,
        |             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sy,
        |             CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxy,
        |             CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sxx,
        |             CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS syy
        |      FROM lineitem GROUP BY l_returnflag)""".stripMargin,
    "q_date_parts" ->
      """SELECT dayofweek(ts) + 1 AS dow, CAST(hour(ts) AS BIGINT) AS hod,
        |       count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_string_funcs" ->
      """SELECT doc_id,
        |       upper(substr(text, 1, 12)) AS head_upper,
        |       length(replace(text, ' ', '')) AS n_nonspace,
        |       CAST(levenshtein(lang, source) AS BIGINT) AS lev_lang_source,
        |       string_split(text, ' ')[1] AS first_token,
        |       reverse(string_split(text, ' ')[-1]) AS last_token_rev
        |FROM documents""".stripMargin,
    "q_union_tagged" ->
      """SELECT tag, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (SELECT 'high' AS tag, value FROM events WHERE value >= 100.0
        |      UNION ALL
        |      SELECT 'low' AS tag, value FROM events WHERE value < 100.0)
        |GROUP BY tag""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |       count(*) FILTER (event_type = 'click') AS click,
        |       count(*) FILTER (event_type = 'error') AS error,
        |       count(*) FILTER (event_type = 'purchase') AS purchase,
        |       count(*) FILTER (event_type = 'signup') AS signup,
        |       count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       count(*) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin,
    "q_median_by_type" ->
      """SELECT event_type, value AS median_value, n AS n_rows
        |FROM (SELECT event_type, value, event_id,
        |             row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |             count(*) OVER (PARTITION BY event_type) AS n
        |      FROM events)
        |WHERE rn = (n + 1) // 2""".stripMargin,
    "q_order_ranks" ->
      """SELECT o_orderkey, o_totalprice,
        |       CAST(rank() OVER w AS BIGINT) AS rnk,
        |       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |       percent_rank() OVER w AS prank,
        |       cume_dist() OVER w AS cdist,
        |       CAST(ntile(4) OVER w AS BIGINT) AS tile
        |FROM orders
        |WINDOW w AS (ORDER BY o_totalprice DESC, o_orderkey)
        |QUALIFY rnk <= 100""".stripMargin,
    "q_first_last_window" ->
      """SELECT event_type,
        |       max(first_id) AS first_id, max(last_id) AS last_id,
        |       max(third_value) AS third_value
        |FROM (SELECT event_type,
        |             first_value(event_id) OVER w AS first_id,
        |             last_value(event_id) OVER w AS last_id,
        |             nth_value(value, 3) OVER w AS third_value
        |      FROM events
        |      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |GROUP BY event_type""".stripMargin,
    "q_salted_agg" ->
      """SELECT event_type,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |       count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "q_range_join" ->
      """SELECT e.event_id AS err_event_id, p.event_id AS purch_event_id,
        |       epoch_us(p.ts) - epoch_us(e.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = e.user_id
        | AND epoch_us(p.ts) >= epoch_us(e.ts)
        | AND epoch_us(p.ts) <= epoch_us(e.ts) + 3600000000""".stripMargin,
    "q_anomaly_zscore" ->
      """WITH h AS (SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s
        |           FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, count(*) AS n,
        |              CAST(CAST(sum(s) AS VARCHAR) AS DOUBLE) AS sx,
        |              CAST(CAST(sum(s * s) AS VARCHAR) AS DOUBLE) AS sxx
        |       FROM h GROUP BY 1)
        |SELECT event_type, bucket_us, CAST(s AS DOUBLE) AS hourly_sum,
        |       (CAST(s AS DOUBLE) - sx / n) /
        |         sqrt((sxx - sx * sx / n) / (n - 1)) AS zscore
        |FROM h JOIN st USING (event_type)
        |WHERE n >= 2 AND (sxx - sx * sx / n) / (n - 1) > 0
        |  AND abs((CAST(s AS DOUBLE) - sx / n) /
        |          sqrt((sxx - sx * sx / n) / (n - 1))) > 3.0""".stripMargin,
    "q_lag_features" ->
      """WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS ts_us,
        |                  CAST(value AS DECIMAL(18,2)) AS v
        |           FROM events)
        |SELECT event_id, event_type, ts_us, CAST(v AS DOUBLE) AS value,
        |       CAST(lag(v, 1) OVER w AS DOUBLE) AS lag1,
        |       CAST(lag(v, 2) OVER w AS DOUBLE) AS lag2,
        |       CAST(v - lag(v, 1) OVER w AS DOUBLE) AS diff1,
        |       CAST(sum(v) OVER (PARTITION BY event_type
        |                         ORDER BY ts_us, event_id
        |                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |            AS DOUBLE)
        |         / CAST(count(*) OVER (PARTITION BY event_type
        |                               ORDER BY ts_us, event_id
        |                               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |                AS DOUBLE) AS mean3
        |FROM e
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)""".stripMargin,
    "q_freshness" ->
      """WITH per AS (SELECT event_type, max(epoch_us(ts)) AS last_event_us,
        |                    count(*) AS n_events
        |             FROM events GROUP BY 1),
        |wm AS (SELECT max(last_event_us) AS watermark_us FROM per),
        |lh AS (SELECT event_type, count(*) AS n_last_hour
        |       FROM events, wm
        |       WHERE epoch_us(ts) > watermark_us - 3600000000
        |       GROUP BY 1)
        |SELECT per.event_type, last_event_us,
        |       watermark_us - last_event_us AS lag_us, n_events,
        |       coalesce(n_last_hour, 0) AS n_last_hour
        |FROM per CROSS JOIN wm LEFT JOIN lh ON lh.event_type = per.event_type""".stripMargin,
    "q_anomaly_poisson" ->
      """WITH h AS (SELECT event_type,
        |                  epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |                  count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type,
        |             CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |               AS lambda
        |      FROM h GROUP BY 1)
        |SELECT event_type, bucket_us, n, lambda,
        |       (CAST(n AS DOUBLE) - lambda) / sqrt(lambda) AS dev
        |FROM h JOIN b USING (event_type)
        |WHERE abs((CAST(n AS DOUBLE) - lambda) / sqrt(lambda)) > 3.0""".stripMargin,
    "q_anomaly_mad" ->
      """WITH h AS (SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT *,
        |             row_number() OVER (PARTITION BY event_type
        |                                ORDER BY s, bucket_us) AS rn,
        |             count(*) OVER (PARTITION BY event_type) AS n FROM h),
        |med AS (SELECT event_type,
        |               max(CASE WHEN rn = (n * 50 + 99) // 100 THEN s END) AS med
        |        FROM r GROUP BY 1),
        |d AS (SELECT h.event_type, bucket_us, s, abs(s - med) AS dev, med
        |      FROM h JOIN med USING (event_type)),
        |r2 AS (SELECT *,
        |              row_number() OVER (PARTITION BY event_type
        |                                 ORDER BY dev, bucket_us) AS rn2,
        |              count(*) OVER (PARTITION BY event_type) AS n2 FROM d),
        |mad AS (SELECT event_type,
        |               max(CASE WHEN rn2 = (n2 * 50 + 99) // 100 THEN dev END) AS mad
        |        FROM r2 GROUP BY 1)
        |SELECT d.event_type, bucket_us, CAST(s AS DOUBLE) AS hourly_sum,
        |       CAST(s - med AS DOUBLE) / (1.4826e0 * CAST(mad AS DOUBLE)) AS robust_z
        |FROM d JOIN mad USING (event_type)
        |WHERE mad > 0
        |  AND abs(CAST(s - med AS DOUBLE) /
        |          (1.4826e0 * CAST(mad AS DOUBLE))) > 3.0""".stripMargin,
    "q_seasonal_baseline" ->
      """WITH h AS (SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s
        |           FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST((bucket_us // 3600000000) % 24 AS INTEGER) AS hod,
        |       count(*) AS n_hours,
        |       CAST(sum(s) AS DOUBLE) / count(*) AS mean_sum
        |FROM h GROUP BY 1, 2""".stripMargin,
    "q_seasonal_decompose" ->
      """WITH h AS (SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s
        |           FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, bucket_us, s,
        |             CASE WHEN count(*) OVER fr < 24 THEN NULL
        |                  ELSE CAST(sum(s) OVER fr AS DOUBLE) / (count(*) OVER fr)
        |             END AS trend,
        |             CAST((bucket_us // 3600000000) % 24 AS INTEGER) AS hod
        |      FROM h
        |      WINDOW fr AS (PARTITION BY event_type ORDER BY bucket_us
        |                    ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)),
        |t2 AS (SELECT *, CAST(s AS DOUBLE) - trend AS detr FROM t),
        |se AS (SELECT event_type, hod,
        |              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |                            list(detr ORDER BY bucket_us)),
        |                          (acc, x) -> acc + x) / count(*) AS seasonal
        |       FROM t2 WHERE detr IS NOT NULL GROUP BY 1, 2)
        |SELECT t2.event_type, bucket_us, CAST(s AS DOUBLE) AS hourly_sum,
        |       trend, seasonal,
        |       detr - seasonal AS residual
        |FROM t2 LEFT JOIN se USING (event_type, hod)""".stripMargin,
    "q_cusum" ->
      """WITH h AS (SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s
        |           FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(s) AS DECIMAL(28,6)) AS tot,
        |               count(*) AS n
        |        FROM h GROUP BY 1),
        |c AS (SELECT h.event_type, bucket_us, s,
        |             CAST(n * CAST(sum(s) OVER fr AS DECIMAL(28,6)) -
        |                  (count(*) OVER fr) * tot AS DOUBLE) / n AS cusum
        |      FROM h JOIN tot USING (event_type)
        |      WINDOW fr AS (PARTITION BY event_type ORDER BY bucket_us
        |                    ROWS UNBOUNDED PRECEDING))
        |SELECT event_type, bucket_us, CAST(s AS DOUBLE) AS hourly_sum, cusum,
        |       abs(cusum) AS cusum_abs
        |FROM c""".stripMargin,
    "q_rolling_median" ->
      """WITH h AS (SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s
        |           FROM events GROUP BY 1, 2)
        |SELECT event_type, bucket_us, CAST(s AS DOUBLE) AS hourly_sum,
        |       CAST((list_sort(list(s) OVER fr))[
        |         CAST((count(*) OVER fr * 50 + 99) // 100 AS INTEGER)]
        |         AS DOUBLE) AS rolling_median
        |FROM h WHERE s IS NOT NULL
        |WINDOW fr AS (PARTITION BY event_type ORDER BY bucket_us
        |              ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_bollinger" ->
      """WITH h AS (SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s
        |           FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, bucket_us, s,
        |             count(*) OVER fr AS n,
        |             CAST(sum(s) OVER fr AS DOUBLE) AS sx,
        |             CAST(sum(s * s) OVER fr AS DOUBLE) AS sxx
        |      FROM h
        |      WINDOW fr AS (PARTITION BY event_type ORDER BY bucket_us
        |                    ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT event_type, bucket_us, CAST(s AS DOUBLE) AS hourly_sum,
        |       CASE WHEN n < 24 THEN NULL ELSE sx / n END AS mean_w,
        |       CASE WHEN n < 24 OR (sxx - sx * sx / n) / (n - 1) <= 0 THEN NULL
        |            ELSE sqrt((sxx - sx * sx / n) / (n - 1)) END AS sd_w,
        |       CASE WHEN n >= 24 AND (sxx - sx * sx / n) / (n - 1) > 0
        |            THEN abs(CAST(s AS DOUBLE) - sx / n) >
        |                 2.0e0 * sqrt((sxx - sx * sx / n) / (n - 1))
        |            ELSE FALSE END AS breakout
        |FROM w""".stripMargin,
    "q_holt_forecast" -> {
      // the smoothing constants are interpolated from the SAME Scala
      // doubles the operator uses (1-beta is NOT the double nearest 0.7 —
      // round-tripping the computed value keeps both engines bit-equal);
      // the fold uses a LIST accumulator: DuckDB 1.0's list_reduce
      // mis-evaluates struct accumulators (verified), lists fold correctly
      val (a, a1, b, b1) = (0.5, 1 - 0.5, 0.3, 1 - 0.3)
      val nl = s"${a}e0 * x[1] + ${a1}e0 * (acc[1] + acc[2])"
      s"""WITH h AS (SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us,
         |                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s
         |           FROM events GROUP BY 1, 2),
         |ser AS (SELECT event_type,
         |               list(CAST(s AS DOUBLE) ORDER BY bucket_us) AS vs
         |        FROM h GROUP BY 1),
         |f AS (SELECT event_type, vs,
         |             list_reduce([[v, 0.0e0] FOR v IN vs],
         |               (acc, x) -> [$nl,
         |                            ${b}e0 * (($nl) - acc[1]) + ${b1}e0 * acc[2]])
         |               AS st
         |      FROM ser WHERE len(vs) >= 2)
         |SELECT event_type, CAST(len(vs) AS BIGINT) AS n_hours,
         |       st[1] AS level, st[2] AS trend,
         |       st[1] + 1 * st[2] AS forecast_1h,
         |       st[1] + 24 * st[2] AS forecast_24h
         |FROM f""".stripMargin
    },
    "q_histogram_quantile" ->
      """WITH b AS (SELECT event_type,
        |                  CASE WHEN value <= 1 THEN 1.0 WHEN value <= 5 THEN 5.0
        |                       WHEN value <= 10 THEN 10.0 WHEN value <= 20 THEN 20.0
        |                       WHEN value <= 50 THEN 50.0 WHEN value <= 100 THEN 100.0
        |                       WHEN value <= 200 THEN 200.0 WHEN value <= 500 THEN 500.0
        |                       ELSE 'infinity'::DOUBLE END AS le,
        |                  count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, le, cnt,
        |             sum(cnt) OVER (PARTITION BY event_type ORDER BY le
        |                            ROWS UNBOUNDED PRECEDING) AS cum,
        |             CASE WHEN isinf(le) THEN 500.0e0 WHEN le = 1 THEN 0.0e0
        |                  WHEN le = 5 THEN 1.0e0 WHEN le = 10 THEN 5.0e0
        |                  WHEN le = 20 THEN 10.0e0 WHEN le = 50 THEN 20.0e0
        |                  WHEN le = 100 THEN 50.0e0 WHEN le = 200 THEN 100.0e0
        |                  ELSE 200.0e0 END AS lo,
        |             sum(cnt) OVER (PARTITION BY event_type) AS total
        |      FROM b),
        |f AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY le) AS rn
        |      FROM w WHERE cum >= 0.9e0 * total)
        |SELECT event_type, CAST(total AS BIGINT) AS n,
        |       CASE WHEN isinf(le) THEN 500.0e0
        |            ELSE lo + (le - lo) * (0.9e0 * total - (cum - cnt)) / cnt
        |       END AS quantile
        |FROM f WHERE rn = 1""".stripMargin,
    "q_pareto" ->
      """WITH sp AS (SELECT user_id,
        |                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |                     AS spend
        |            FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |r AS (SELECT spend,
        |             row_number() OVER (ORDER BY spend DESC, user_id) AS rn,
        |             count(*) OVER () AS n
        |      FROM sp),
        |d AS (SELECT CAST(((rn - 1) * 10) // n AS INTEGER) AS decile,
        |             count(*) AS n_users,
        |             CAST(sum(spend) AS DECIMAL(18,2)) AS decile_value
        |      FROM r GROUP BY 1)
        |SELECT decile, n_users, CAST(decile_value AS DOUBLE) AS decile_value,
        |       CAST(CAST(sum(decile_value) OVER (ORDER BY decile
        |              ROWS UNBOUNDED PRECEDING) AS DECIMAL(18,2)) AS DOUBLE)
        |         AS cum_value,
        |       CAST(CAST(sum(decile_value) OVER (ORDER BY decile
        |              ROWS UNBOUNDED PRECEDING) AS DECIMAL(18,2)) AS DOUBLE) /
        |         CAST(CAST(sum(decile_value) OVER () AS DECIMAL(18,2)) AS DOUBLE)
        |         AS cum_share
        |FROM d""".stripMargin,
    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        |s1 AS (SELECT user_id, min(t) AS t FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.t >= s1.t
        |         AND e.t <= s1.t + 86400000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.t >= s2.t
        |         AND e.t <= s2.t + 86400000000 GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage,
        |       count(*) AS n_users FROM s1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'click', count(*) FROM s2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'purchase', count(*) FROM s3""".stripMargin,
    "q_funnel_latency" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        |s1 AS (SELECT user_id, min(t) AS t FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.t >= s1.t
        |         AND e.t <= s1.t + 86400000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.t) AS t FROM e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.t >= s2.t
        |         AND e.t <= s2.t + 86400000000 GROUP BY 1),
        |l AS (SELECT CAST(2 AS BIGINT) AS stage_idx, 'click' AS stage,
        |             s2.user_id, s2.t - s1.t AS lat_us
        |      FROM s2 JOIN s1 USING (user_id)
        |      UNION ALL
        |      SELECT CAST(3 AS BIGINT), 'purchase', s3.user_id, s3.t - s1.t
        |      FROM s3 JOIN s1 USING (user_id)),
        |r AS (SELECT *,
        |             row_number() OVER (PARTITION BY stage_idx
        |                                ORDER BY lat_us, user_id) AS rn,
        |             count(*) OVER (PARTITION BY stage_idx) AS n
        |      FROM l)
        |SELECT stage_idx, stage, max(n) AS n_converted,
        |       max(CASE WHEN rn = (n * 50 + 99) // 100 THEN lat_us END)
        |         AS p50_lat_us,
        |       max(CASE WHEN rn = (n * 90 + 99) // 100 THEN lat_us END)
        |         AS p90_lat_us
        |FROM r GROUP BY 1, 2""".stripMargin,
    "q_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |                              AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |           FROM orders WHERE o_totalprice >= 1),
        |c AS (SELECT digit, count(*) AS cnt FROM d GROUP BY 1),
        |s AS (SELECT digit, cnt,
        |             CAST(cnt AS DOUBLE) / CAST(sum(cnt) OVER () AS DOUBLE)
        |               AS share,
        |             CASE digit
        |               WHEN 1 THEN 0.3010299956639812
        |               WHEN 2 THEN 0.17609125905568124
        |               WHEN 3 THEN 0.12493873660829992
        |               WHEN 4 THEN 0.09691001300805642
        |               WHEN 5 THEN 0.07918124604762482
        |               WHEN 6 THEN 0.06694678963061322
        |               WHEN 7 THEN 0.05799194697768673
        |               WHEN 8 THEN 0.05115252244738129
        |               WHEN 9 THEN 0.04575749056067514
        |             END AS expected
        |      FROM c)
        |SELECT digit, cnt, share, expected, share - expected AS dev
        |FROM s""".stripMargin,
    "q_gini" ->
      """WITH spend AS (SELECT event_type, user_id,
        |                      CAST(sum(CAST(value AS DECIMAL(18,2)))
        |                           AS DECIMAL(18,2)) AS spend
        |               FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, spend,
        |             row_number() OVER (PARTITION BY event_type
        |                                ORDER BY spend, user_id) AS rn,
        |             count(*) OVER (PARTITION BY event_type) AS n
        |      FROM spend),
        |a AS (SELECT event_type, max(n) AS n_users,
        |             CAST(sum(spend) AS DECIMAL(38,2)) AS total,
        |             CAST(sum(rn * spend) AS DECIMAL(38,2)) AS rank_wsum
        |      FROM r GROUP BY 1)
        |SELECT event_type, n_users, CAST(total AS DOUBLE) AS total_value,
        |       (2.0 * CAST(rank_wsum AS DOUBLE)
        |        - CAST(n_users + 1 AS DOUBLE) * CAST(total AS DOUBLE))
        |         / (CAST(n_users AS DOUBLE) * CAST(total AS DOUBLE)) AS gini
        |FROM a""".stripMargin,
    "q_trend_line" ->
      // HUGEINT sums convert to double via VARCHAR (correctly-rounded
      // parse — matches Spark's Decimal.toDouble; the direct int128
      // cast is off by an ulp near 10¹⁹), same trick as q_skew_kurtosis
      """WITH v AS (SELECT event_type,
        |                  (epoch_us(ts) - 1704067200000000) // 1000000 AS t0,
        |                  CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
        |                       AS DECIMAL(10,0)) AS HUGEINT) AS y
        |           FROM events),
        |w AS (SELECT event_type, CAST(t0 AS HUGEINT) AS t, y FROM v),
        |a AS (SELECT event_type, count(*) AS n,
        |             CAST(CAST(sum(t) AS VARCHAR) AS DOUBLE) AS st,
        |             CAST(CAST(sum(y) AS VARCHAR) AS DOUBLE) AS sy,
        |             CAST(CAST(sum(t*t) AS VARCHAR) AS DOUBLE) AS stt,
        |             CAST(CAST(sum(t*y) AS VARCHAR) AS DOUBLE) AS sty,
        |             CAST(CAST(sum(y*y) AS VARCHAR) AS DOUBLE) AS syy
        |      FROM w GROUP BY 1),
        |m AS (SELECT event_type, n,
        |             CAST(n AS DOUBLE) * stt - st * st AS var_t,
        |             CAST(n AS DOUBLE) * syy - sy * sy AS var_y,
        |             CAST(n AS DOUBLE) * sty - st * sy AS cov_ty,
        |             st, sy
        |      FROM a)
        |SELECT event_type, n,
        |       CASE WHEN var_t <= 0 THEN NULL
        |            ELSE cov_ty / var_t * 86400.0 / 100.0 END AS slope_per_day,
        |       CASE WHEN var_t <= 0 THEN NULL
        |            ELSE (sy / CAST(n AS DOUBLE)
        |                  - cov_ty / var_t * st / CAST(n AS DOUBLE)) / 100.0
        |            END AS intercept,
        |       CASE WHEN var_t <= 0 OR var_y <= 0 THEN NULL
        |            ELSE cov_ty * cov_ty / (var_t * var_y) END AS r2
        |FROM m""".stripMargin,
    "q_scd2" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t
        |           FROM events),
        |c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
        |                                      ORDER BY t, event_id) AS prev_type
        |      FROM e),
        |ch AS (SELECT * FROM c
        |       WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type AS state, t AS valid_from_us,
        |       lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |         AS valid_to_us,
        |       lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |         IS NULL AS is_current
        |FROM ch""".stripMargin,
    "q_rfm" ->
      """WITH base AS (SELECT o_custkey,
        |                     max(epoch_us(o_orderdate)) AS rec_us,
        |                     count(*) AS freq,
        |                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |                          AS DECIMAL(18,2)) AS money
        |              FROM orders GROUP BY 1),
        |r AS (SELECT base.*,
        |             CAST(((row_number() OVER (ORDER BY rec_us, o_custkey) - 1)
        |                   * 5) // (count(*) OVER ()) AS INTEGER) + 1 AS r_score,
        |             CAST(((row_number() OVER (ORDER BY freq, o_custkey) - 1)
        |                   * 5) // (count(*) OVER ()) AS INTEGER) + 1 AS f_score,
        |             CAST(((row_number() OVER (ORDER BY money, o_custkey) - 1)
        |                   * 5) // (count(*) OVER ()) AS INTEGER) + 1 AS m_score
        |      FROM base)
        |SELECT o_custkey, rec_us, freq, CAST(money AS DOUBLE) AS money,
        |       r_score, f_score, m_score,
        |       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
        |         || CAST(m_score AS VARCHAR) AS segment
        |FROM r""".stripMargin,
    "q_cohort_ltv" ->
      """WITH fs AS (SELECT user_id,
        |                   min(epoch_us(date_trunc('hour', ts))) AS cohort_us
        |            FROM events GROUP BY 1),
        |sz AS (SELECT cohort_us, count(*) AS cohort_users FROM fs GROUP BY 1),
        |per AS (SELECT fs.cohort_us,
        |               (epoch_us(date_trunc('hour', e.ts)) - fs.cohort_us)
        |                 // 3600000000 AS offset_h,
        |               CAST(sum(CAST(e.value AS DECIMAL(18,2)))
        |                    AS DECIMAL(18,2)) AS period_value
        |        FROM events e JOIN fs ON e.user_id = fs.user_id
        |        GROUP BY 1, 2),
        |c AS (SELECT per.cohort_us, offset_h, cohort_users, period_value,
        |             CAST(sum(period_value) OVER (PARTITION BY per.cohort_us
        |                    ORDER BY offset_h
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |                  AS DECIMAL(18,2)) AS cum_value
        |      FROM per JOIN sz ON per.cohort_us = sz.cohort_us)
        |SELECT cohort_us, offset_h, cohort_users,
        |       CAST(period_value AS DOUBLE) AS period_value,
        |       CAST(cum_value AS DOUBLE) AS cum_value,
        |       CAST(cum_value AS DOUBLE) / CAST(cohort_users AS DOUBLE)
        |         AS ltv_per_user
        |FROM c""".stripMargin,
    "q_ab_test" ->
      """WITH u AS (SELECT user_id,
        |                  max(CASE WHEN event_type = 'purchase'
        |                           THEN 1 ELSE 0 END) AS conv,
        |                  user_id % 2 = 0 AS is_a
        |           FROM events GROUP BY user_id),
        |a AS (SELECT CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT)
        |               AS n_a,
        |             CAST(sum(CASE WHEN is_a THEN conv ELSE 0 END) AS BIGINT)
        |               AS conv_a,
        |             CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT)
        |               AS n_b,
        |             CAST(sum(CASE WHEN NOT is_a THEN conv ELSE 0 END)
        |                  AS BIGINT) AS conv_b
        |      FROM u),
        |r AS (SELECT *,
        |             CASE WHEN n_a > 0
        |                  THEN CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |                  END AS rate_a,
        |             CASE WHEN n_b > 0
        |                  THEN CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
        |                  END AS rate_b,
        |             CASE WHEN n_a + n_b > 0
        |                  THEN CAST(conv_a + conv_b AS DOUBLE)
        |                       / CAST(n_a + n_b AS DOUBLE) END AS p_pool
        |      FROM a)
        |SELECT n_a, conv_a, n_b, conv_b, rate_a, rate_b,
        |       CASE WHEN n_a > 0 AND n_b > 0 AND p_pool > 0 AND p_pool < 1
        |            THEN (rate_a - rate_b)
        |                 / sqrt(p_pool * (1.0 - p_pool)
        |                        * (1.0 / CAST(n_a AS DOUBLE)
        |                           + 1.0 / CAST(n_b AS DOUBLE)))
        |            END AS z
        |FROM r""".stripMargin,
    "q_cdf_normalize" ->
      """WITH r AS (SELECT event_id, event_type, value,
        |                  row_number() OVER (PARTITION BY event_type
        |                                     ORDER BY value, event_id) AS rn,
        |                  count(*) OVER (PARTITION BY event_type) AS n
        |           FROM events)
        |SELECT event_id, event_type, value,
        |       CASE WHEN n = 1 THEN 0.5
        |            ELSE CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
        |            END AS cdf
        |FROM r""".stripMargin,
    "q_winsorize" ->
      """WITH r AS (SELECT event_id, event_type, value,
        |                  row_number() OVER (PARTITION BY event_type
        |                                     ORDER BY value, event_id) AS rn,
        |                  count(*) OVER (PARTITION BY event_type) AS n
        |           FROM events),
        |b AS (SELECT event_type,
        |             max(CASE WHEN rn = (n * 1 + 99) // 100
        |                      THEN value END) AS lo,
        |             max(CASE WHEN rn = (n * 99 + 99) // 100
        |                      THEN value END) AS hi
        |      FROM r GROUP BY 1)
        |SELECT event_id, r.event_type, value,
        |       least(greatest(value, lo), hi) AS clipped
        |FROM r JOIN b ON r.event_type = b.event_type""".stripMargin,
    "q_wilson" ->
      // z² enters via a STRING parse: DuckDB types the bare 17-digit
      // literal DECIMAL(17,16), whose int64→double conversion rounds an
      // ulp off (38415999999999997 > 2⁵³); the string→double parse is
      // correctly rounded and matches Scala's 1.96*1.96 exactly
      """WITH h AS (SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |                  count(DISTINCT user_id) AS n_users,
        |                  count(DISTINCT CASE WHEN event_type = 'purchase'
        |                                      THEN user_id END) AS n_conv
        |           FROM events GROUP BY 1),
        |p AS (SELECT *, CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)
        |               AS p
        |      FROM h)
        |SELECT bucket_us, n_users, n_conv, p AS rate,
        |       (p + CAST('3.8415999999999997' AS DOUBLE) / (2.0 * CAST(n_users AS DOUBLE))
        |        - 1.96 * sqrt(p * (1.0 - p) / CAST(n_users AS DOUBLE)
        |                      + CAST('3.8415999999999997' AS DOUBLE) /
        |                        (4.0 * CAST(n_users AS DOUBLE)
        |                         * CAST(n_users AS DOUBLE))))
        |       / (1.0 + CAST('3.8415999999999997' AS DOUBLE) / CAST(n_users AS DOUBLE))
        |         AS wilson_lo
        |FROM p""".stripMargin,
    "q_target_encode" ->
      """WITH s AS (SELECT event_type,
        |                  CAST(sum(CAST(value AS DECIMAL(18,2)))
        |                       AS DECIMAL(38,2)) AS s,
        |                  count(*) AS n
        |           FROM events GROUP BY 1)
        |SELECT event_id, e.event_type,
        |       CAST(CAST(e.value AS DECIMAL(18,2)) AS DOUBLE) AS value,
        |       CASE WHEN n = 1 THEN NULL
        |            ELSE CAST(s - CAST(e.value AS DECIMAL(18,2)) AS DOUBLE)
        |                 / CAST(n - 1 AS DOUBLE)
        |            END AS loo_mean
        |FROM events e JOIN s ON e.event_type = s.event_type""".stripMargin,
    "q_k_anonymity" ->
      """WITH g AS (SELECT event_type, hour(ts) AS hod, count(*) AS cnt,
        |                  count(DISTINCT user_id) AS l_div
        |           FROM events GROUP BY 1, 2)
        |SELECT CAST(10 AS BIGINT) AS k, count(*) AS n_groups,
        |       CAST(sum(CASE WHEN cnt < 10 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_small_groups,
        |       CAST(sum(CASE WHEN cnt < 10 THEN cnt ELSE 0 END) AS BIGINT)
        |         AS rows_at_risk,
        |       CAST(sum(cnt) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN cnt < 10 THEN cnt ELSE 0 END) AS DOUBLE)
        |         / CAST(sum(cnt) AS DOUBLE) AS pct_rows_at_risk,
        |       min(l_div) AS min_l_diversity
        |FROM g""".stripMargin,
    "q_attribution_linear" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
        |                  value
        |           FROM events),
        |c AS (SELECT user_id, t AS t_conv, event_id AS conv_id,
        |             CAST(value AS DECIMAL(18,2)) AS v
        |      FROM e WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id AS tu, t AS t_touch, event_id AS touch_id,
        |               event_type AS channel
        |        FROM e WHERE event_type <> 'purchase'),
        |p AS (SELECT c.user_id, c.conv_id, c.v, tch.channel, tch.touch_id
        |      FROM c LEFT JOIN tch ON c.user_id = tch.tu
        |        AND (tch.t_touch < c.t_conv
        |             OR (tch.t_touch = c.t_conv AND tch.touch_id < c.conv_id))
        |        AND c.t_conv - tch.t_touch <= 86400000000),
        |w AS (SELECT coalesce(channel, 'direct') AS channel,
        |             count(touch_id) OVER (PARTITION BY user_id, conv_id)
        |               AS n_touches,
        |             v
        |      FROM p)
        |SELECT channel, n_touches, count(*) AS n_pairs,
        |       CASE WHEN n_touches = 0
        |            THEN CAST(CAST(sum(v) AS DECIMAL(38,2)) AS DOUBLE)
        |            ELSE CAST(CAST(sum(v) AS DECIMAL(38,2)) AS DOUBLE)
        |                 / CAST(n_touches AS DOUBLE)
        |            END AS credited_value
        |FROM w GROUP BY channel, n_touches""".stripMargin,
    "q_skew_report" ->
      """WITH lo AS (SELECT l_orderkey AS k, count(*) AS cnt
        |            FROM lineitem GROUP BY 1),
        |lp AS (SELECT l_partkey AS k, count(*) AS cnt
        |       FROM lineitem GROUP BY 1),
        |ls AS (SELECT l_suppkey AS k, count(*) AS cnt
        |       FROM lineitem GROUP BY 1),
        |eu AS (SELECT user_id AS k, count(*) AS cnt FROM events GROUP BY 1),
        |et AS (SELECT event_type AS k, count(*) AS cnt
        |       FROM events GROUP BY 1)
        |SELECT 'lineitem.l_orderkey' AS key_name,
        |       CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys,
        |       max(cnt) AS max_cnt,
        |       (SELECT CAST(k AS VARCHAR) FROM lo
        |        ORDER BY cnt DESC, CAST(k AS VARCHAR) DESC LIMIT 1) AS top_key,
        |       CAST(max(cnt) * count(*) AS DOUBLE)
        |         / CAST(sum(cnt) AS DOUBLE) AS skew_factor
        |FROM lo
        |UNION ALL
        |SELECT 'lineitem.l_partkey', CAST(sum(cnt) AS BIGINT), count(*),
        |       max(cnt),
        |       (SELECT CAST(k AS VARCHAR) FROM lp
        |        ORDER BY cnt DESC, CAST(k AS VARCHAR) DESC LIMIT 1),
        |       CAST(max(cnt) * count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)
        |FROM lp
        |UNION ALL
        |SELECT 'lineitem.l_suppkey', CAST(sum(cnt) AS BIGINT), count(*),
        |       max(cnt),
        |       (SELECT CAST(k AS VARCHAR) FROM ls
        |        ORDER BY cnt DESC, CAST(k AS VARCHAR) DESC LIMIT 1),
        |       CAST(max(cnt) * count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)
        |FROM ls
        |UNION ALL
        |SELECT 'events.user_id', CAST(sum(cnt) AS BIGINT), count(*),
        |       max(cnt),
        |       (SELECT CAST(k AS VARCHAR) FROM eu
        |        ORDER BY cnt DESC, CAST(k AS VARCHAR) DESC LIMIT 1),
        |       CAST(max(cnt) * count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)
        |FROM eu
        |UNION ALL
        |SELECT 'events.event_type', CAST(sum(cnt) AS BIGINT), count(*),
        |       max(cnt),
        |       (SELECT CAST(k AS VARCHAR) FROM et
        |        ORDER BY cnt DESC, CAST(k AS VARCHAR) DESC LIMIT 1),
        |       CAST(max(cnt) * count(*) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)
        |FROM et""".stripMargin,
    "q_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
        |                  value
        |           FROM events),
        |w AS (SELECT *,
        |             last_value(CASE WHEN event_type <> 'purchase'
        |                             THEN event_type END IGNORE NULLS)
        |               OVER (PARTITION BY user_id ORDER BY t, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |               AS touch_type,
        |             last_value(CASE WHEN event_type <> 'purchase'
        |                             THEN t END IGNORE NULLS)
        |               OVER (PARTITION BY user_id ORDER BY t, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |               AS touch_t
        |      FROM e),
        |p AS (SELECT CASE WHEN touch_type IS NULL
        |                    OR t - touch_t > 86400000000
        |                  THEN 'direct' ELSE touch_type END AS channel, value
        |      FROM w WHERE event_type = 'purchase')
        |SELECT channel, count(*) AS n_conversions,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |         AS attributed_value
        |FROM p GROUP BY 1""".stripMargin,
    "q_equidepth" ->
      """WITH r AS (SELECT event_type, event_id, value,
        |                  row_number() OVER (PARTITION BY event_type
        |                                     ORDER BY value, event_id) AS rn,
        |                  count(*) OVER (PARTITION BY event_type) AS n
        |           FROM events)
        |SELECT event_type, rn AS rk, n, value AS boundary
        |FROM r
        |WHERE rn = (n * 1) // 8 OR rn = (n * 2) // 8 OR rn = (n * 3) // 8
        |   OR rn = (n * 4) // 8 OR rn = (n * 5) // 8 OR rn = (n * 6) // 8
        |   OR rn = (n * 7) // 8 OR rn = (n * 8) // 8""".stripMargin,
    "q_audit_totals" ->
      """WITH rec AS (SELECT l_orderkey,
        |                    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                         * (CAST(1 AS DECIMAL(4,2))
        |                            - CAST(l_discount AS DECIMAL(4,2)))
        |                         * (CAST(1 AS DECIMAL(4,2))
        |                            + CAST(l_tax AS DECIMAL(4,2))))
        |                      AS DECIMAL(24,6)) AS recomputed
        |             FROM lineitem GROUP BY 1),
        |j AS (SELECT o_orderstatus,
        |             CAST(o_totalprice AS DECIMAL(18,2)) AS declared,
        |             coalesce(recomputed, CAST(0 AS DECIMAL(24,6)))
        |               AS recomputed
        |      FROM orders LEFT JOIN rec ON o_orderkey = l_orderkey),
        |d AS (SELECT o_orderstatus, declared, recomputed,
        |             recomputed - declared AS diff FROM j)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(sum(CASE WHEN abs(diff) > 0.01 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_mismatch,
        |       CAST(CAST(max(abs(diff)) AS VARCHAR) AS DOUBLE)
        |         AS max_abs_diff,
        |       CAST(CAST(sum(declared) AS VARCHAR) AS DOUBLE)
        |         AS sum_declared,
        |       CAST(CAST(sum(recomputed) AS VARCHAR) AS DOUBLE)
        |         AS sum_recomputed
        |FROM d GROUP BY 1""".stripMargin,
    "q_audit_orphans" ->
      """SELECT 'lineitem->orders' AS fk_edge,
        |       (SELECT count(*) FROM lineitem) AS n_child,
        |       (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |          (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |         AS n_orphan
        |UNION ALL
        |SELECT 'lineitem->part',
        |       (SELECT count(*) FROM lineitem),
        |       (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |          (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        |UNION ALL
        |SELECT 'lineitem->supplier',
        |       (SELECT count(*) FROM lineitem),
        |       (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |          (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
        |UNION ALL
        |SELECT 'orders->customer',
        |       (SELECT count(*) FROM orders),
        |       (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |          (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |UNION ALL
        |SELECT 'customer->nation',
        |       (SELECT count(*) FROM customer),
        |       (SELECT count(*) FROM customer c WHERE NOT EXISTS
        |          (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
        |UNION ALL
        |SELECT 'supplier->nation',
        |       (SELECT count(*) FROM supplier),
        |       (SELECT count(*) FROM supplier s WHERE NOT EXISTS
        |          (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
        |UNION ALL
        |SELECT 'nation->region',
        |       (SELECT count(*) FROM nation),
        |       (SELECT count(*) FROM nation n WHERE NOT EXISTS
        |          (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
        |""".stripMargin,
    "q_user_diversity" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |u AS (SELECT user_id, count(*) AS n_types,
        |             CAST(sum(cnt) AS BIGINT) AS n_events,
        |             CAST(sum(cnt * cnt) AS BIGINT) AS ss
        |      FROM c GROUP BY 1)
        |SELECT user_id, n_types, n_events,
        |       CAST(n_events * n_events - ss AS DOUBLE) /
        |         CAST(n_events * n_events AS DOUBLE) AS simpson
        |FROM u""".stripMargin,
    "q_skew_kurtosis" ->
      // the raw-moment sums convert to double VIA VARCHAR: DuckDB's
      // direct int128/decimal→double cast is not correctly rounded
      // (off by an ulp near 10¹⁹), but its string→double parse is —
      // matching Spark's correctly-rounded Decimal.toDouble
      """WITH v AS (SELECT event_type,
        |                  CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100
        |                       AS DECIMAL(10,0)) AS HUGEINT) AS v
        |           FROM events),
        |a AS (SELECT event_type, count(*) AS n,
        |             CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE) AS s1,
        |             CAST(CAST(sum(v*v) AS VARCHAR) AS DOUBLE) AS s2,
        |             CAST(CAST(sum(v*v*v) AS VARCHAR) AS DOUBLE) AS s3,
        |             CAST(CAST(sum(v*v*v*v) AS VARCHAR) AS DOUBLE) AS s4
        |      FROM v GROUP BY 1),
        |m AS (SELECT event_type, n,
        |             s1 / CAST(n AS DOUBLE) / 100.0 AS mean,
        |             (s2 - s1 * s1 / CAST(n AS DOUBLE))
        |               / CAST(n AS DOUBLE) / 10000.0 AS m2,
        |             (s3 - 3.0 * s1 * s2 / CAST(n AS DOUBLE)
        |              + 2.0 * s1 * s1 * s1
        |                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
        |               / CAST(n AS DOUBLE) / 1000000.0 AS m3,
        |             (s4 - 4.0 * s1 * s3 / CAST(n AS DOUBLE)
        |              + 6.0 * s1 * s1 * s2
        |                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
        |              - 3.0 * s1 * s1 * s1 * s1
        |                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |                   * CAST(n AS DOUBLE)))
        |               / CAST(n AS DOUBLE) / 100000000.0 AS m4
        |      FROM a)
        |SELECT event_type, n, mean, m2 AS variance,
        |       CASE WHEN m2 <= 0 THEN NULL
        |            ELSE m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) END AS skewness,
        |       CASE WHEN m2 <= 0 THEN NULL
        |            ELSE m4 / (m2 * m2) - 3.0 END AS kurtosis
        |FROM m""".stripMargin,
    "q_pii_scrub" ->
      """WITH aug AS (SELECT doc_id,
        |                    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |                    '@example.com or +1-' ||
        |                    lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-555-' ||
        |                    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        |             FROM documents)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(text,
        |         '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(text,
        |         '\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |       regexp_replace(
        |         regexp_replace(text, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}',
        |                        '<EMAIL>', 'g'),
        |         '\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS text
        |FROM aug""".stripMargin,
    "q_edit_neardup" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
         |h AS (SELECT doc_id, ${sqlTokHash("tok")} h FROM t),
         |b AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) s
         |      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) j) jj
         |      GROUP BY 1, 2),
         |sh AS (SELECT doc_id,
         |       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
         |       FROM b GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         |                 CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |          WHERE bit_count(xor(a.simhash, b.simhash)) <= 4)
         |SELECT doc_id_1, doc_id_2, hamming,
         |       CAST(levenshtein(x.text, y.text) AS BIGINT) AS edit_dist
         |FROM pairs JOIN documents x ON x.doc_id = doc_id_1
         |           JOIN documents y ON y.doc_id = doc_id_2
         |WHERE levenshtein(x.text, y.text) <= 100""".stripMargin,
    // the bloom prefilter is exact-verified, so its oracle IS the
    // contamination oracle (identical SQL text below)
    "q_bloom_decontam" ->
      s"""WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS ws
         |              FROM documents),
         |sh AS (SELECT doc_id, source,
         |              unnest(list_distinct([array_to_string(ws[i:i+3], ' ')
         |                     FOR i IN range(1, greatest(len(ws) - 2, 1))])) AS g
         |       FROM toks),
         |ev AS (SELECT DISTINCT ${sqlTokHash("g")} AS h FROM sh
         |       WHERE source = 'src0'),
         |tr AS (SELECT doc_id, ${sqlTokHash("g")} AS h FROM sh
         |       WHERE source <> 'src0')
         |SELECT DISTINCT tr.doc_id FROM tr JOIN ev USING (h)""".stripMargin,
    "q_contamination" ->
      s"""WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS ws
         |              FROM documents),
         |sh AS (SELECT doc_id, source,
         |              unnest(list_distinct([array_to_string(ws[i:i+3], ' ')
         |                     FOR i IN range(1, greatest(len(ws) - 2, 1))])) AS g
         |       FROM toks),
         |ev AS (SELECT DISTINCT ${sqlTokHash("g")} AS h FROM sh
         |       WHERE source = 'src0'),
         |tr AS (SELECT doc_id, ${sqlTokHash("g")} AS h FROM sh
         |       WHERE source <> 'src0')
         |SELECT DISTINCT tr.doc_id FROM tr JOIN ev USING (h)""".stripMargin,
    "q_inverted_index" ->
      """WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |r AS (SELECT term, doc_id,
        |             count(*) OVER (PARTITION BY term) AS df,
        |             row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rank
        |      FROM tok)
        |SELECT term, df, rank, doc_id FROM r
        |WHERE df >= 100 AND rank <= 100""".stripMargin,
    "q_bigrams" ->
      """WITH d AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |p AS (SELECT t.w[1] || ' ' || t.w[2] AS bigram
        |      FROM d, UNNEST(list_zip(d.ws[1:len(d.ws)-1], d.ws[2:])) AS t(w)
        |      WHERE len(d.ws) >= 2)
        |SELECT bigram, count(*) AS n FROM p
        |GROUP BY 1 ORDER BY n DESC, bigram LIMIT 30""".stripMargin,
    "q_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |             CASE WHEN len(ws) >= 3
        |                  THEN [array_to_string(ws[i:i+2], ' ')
        |                        FOR i IN range(1, greatest(len(ws) - 1, 1))]
        |                  ELSE [] END AS gs
        |      FROM t)
        |SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams,
        |       CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct_grams,
        |       CASE WHEN len(gs) > 0
        |            THEN CAST(len(gs) - len(list_distinct(gs)) AS DOUBLE) / len(gs)
        |            ELSE 0.0 END AS rep_ratio
        |FROM g""".stripMargin,
    "q_char_diversity" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |           FROM documents),
        |c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
        |       1.0e0 - CAST(sum(c * c) AS DOUBLE) /
        |               CAST(sum(c) * sum(c) AS DOUBLE) AS char_diversity
        |FROM c GROUP BY 1""".stripMargin,
    "q_corr_matrix" ->
      """WITH h AS (SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us,
        |                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s
        |           FROM events GROUP BY 1, 2),
        |j AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |             a.s AS x, b.s AS y
        |      FROM h a JOIN h b ON a.bucket_us = b.bucket_us
        |                       AND a.event_type < b.event_type),
        |m AS (SELECT type_a, type_b, count(*) AS n,
        |             CAST(CAST(sum(x) AS VARCHAR) AS DOUBLE) AS sx,
        |             CAST(CAST(sum(y) AS VARCHAR) AS DOUBLE) AS sy,
        |             CAST(CAST(sum(x * y) AS VARCHAR) AS DOUBLE) AS sxy,
        |             CAST(CAST(sum(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
        |             CAST(CAST(sum(y * y) AS VARCHAR) AS DOUBLE) AS syy
        |      FROM j GROUP BY 1, 2)
        |SELECT type_a, type_b, n,
        |       CASE WHEN n < 2 OR n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0
        |            THEN NULL
        |            ELSE (n * sxy - sx * sy) /
        |                 (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
        |       END AS pearson_r
        |FROM m""".stripMargin,
    "q_lift" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |tot AS (SELECT event_type, count(*) AS cnt FROM ut GROUP BY 1),
        |nu AS (SELECT count(DISTINCT user_id) AS nu FROM ut),
        |ab AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |              count(*) AS n_ab
        |       FROM ut a JOIN ut b ON a.user_id = b.user_id
        |                          AND a.event_type < b.event_type
        |       GROUP BY 1, 2)
        |SELECT type_a, type_b, n_ab, ta.cnt AS n_a, tb.cnt AS n_b,
        |       CAST(CAST(n_ab AS HUGEINT) * nu.nu AS DOUBLE) /
        |       CAST(CAST(ta.cnt AS HUGEINT) * tb.cnt AS DOUBLE) AS lift
        |FROM ab
        |JOIN tot ta ON ta.event_type = type_a
        |JOIN tot tb ON tb.event_type = type_b
        |CROSS JOIN nu""".stripMargin,
    "q_trimmed_mean" ->
      """WITH r AS (SELECT event_type, value, event_id,
        |                  row_number() OVER (PARTITION BY event_type
        |                                     ORDER BY value, event_id) AS rn,
        |                  count(*) OVER (PARTITION BY event_type) AS n
        |           FROM events)
        |SELECT event_type, count(*) AS n_kept,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |         AS trimmed_mean
        |FROM r
        |WHERE rn > (n * 5 + 99) // 100 AND rn <= (n * 95 + 99) // 100
        |GROUP BY 1""".stripMargin,
    "q_weighted_sample" ->
      s"""SELECT doc_id, n_chars,
         |       CAST(${sqlTokHash("CAST(doc_id AS VARCHAR)")} AS DOUBLE) / n_chars
         |         AS priority
         |FROM documents WHERE n_chars > 0
         |ORDER BY priority, doc_id LIMIT 50""".stripMargin,
    "q_embed_norms" ->
      """WITH nn AS (SELECT label,
        |                  CAST(sqrt(list_reduce(
        |                       list_prepend(CAST(0.0 AS DOUBLE),
        |                         [CAST(embedding[i] AS DOUBLE)
        |                          * CAST(embedding[i] AS DOUBLE)
        |                          for i in generate_series(1, len(embedding))]),
        |                       (acc, x) -> acc + x)) AS DECIMAL(18,9)) AS nq
        |            FROM embeddings)
        |SELECT label, count(*) AS n,
        |       CAST(sum(CASE WHEN abs(nq - 1) > 0.001 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_nonunit,
        |       CAST(min(nq) AS DOUBLE) AS min_norm,
        |       CAST(max(nq) AS DOUBLE) AS max_norm,
        |       CAST(CAST(sum(nq) AS DECIMAL(38,9)) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) AS mean_norm
        |FROM nn GROUP BY 1""".stripMargin,
    "q_label_centroids" ->
      // salted two-level sorted double fold per (label, dim), mirroring
      // Similarity.labelCentroidRows' association tree exactly; flattened
      // to one row per (label, dim) so every output column is scalar
      """WITH ex AS (SELECT label, vec_id, CAST(d AS INTEGER) AS dim,
        |                  (embedding::DOUBLE[])[d] AS x
        |           FROM embeddings, generate_series(1, 64) AS t(d)),
        |p AS (SELECT label, dim, vec_id % 64 AS salt, count(*) AS cnt,
        |             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |                           list(x ORDER BY vec_id)),
        |                         (a, b) -> a + b) AS psum
        |      FROM ex GROUP BY 1, 2, 3)
        |SELECT label, CAST(sum(cnt) AS BIGINT) AS n, dim,
        |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |                     list(psum ORDER BY salt)),
        |                   (a, b) -> a + b) / CAST(sum(cnt) AS BIGINT) AS value
        |FROM p GROUP BY label, dim""".stripMargin,
    "q_pq_topk" -> {
      // PQ-ADC mirrored relationally: codebooks = the 8 smallest vec_ids'
      // subvectors (list(v ORDER BY vec_id)); per-subspace code = first-
      // position argmax of left-fold subvector dots (list_position of
      // list_max — same tie rule as array_position); ADC = LUT lookups
      // summed left-to-right; exact-cosine re-rank of the ADC top-50
      val m = 4; val sub = 16
      // NOTE cbs holds FULL 64-dim centroid vectors — both sides of the
      // subspace dot use the same offset
      def subDot(vec: String, off: Int, cb: String): String =
        s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
          s"[$vec[$off + ii] * $cb[$off + ii] FOR ii IN generate_series(1, $sub)]), " +
          "(acc, x) -> acc + x)"
      val adcTerms = (0 until m).map { mi =>
        val off = mi * sub
        val dots = s"[${subDot("v", off, "c")} FOR c IN cbs]"
        val lut = s"[${subDot("qv", off, "c")} FOR c IN cbs]"
        s"($lut)[list_position($dots, list_max($dots))]"
      }
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = $QueryVecId),
         |cbl AS (SELECT list(v ORDER BY vec_id) AS cbs FROM e WHERE vec_id < 8),
         |enc AS (SELECT e.vec_id, e.label, e.v,
         |               ${adcTerms.mkString(" + ")} AS adc
         |        FROM e, cbl, q),
         |top AS (SELECT vec_id, label, v, adc FROM enc
         |        ORDER BY adc DESC, vec_id LIMIT 50)
         |SELECT t.vec_id, t.label, t.adc,
         |       ${sqlCosine("t.v", "q.qv")} AS sim
         |FROM top t, q ORDER BY sim DESC, t.vec_id LIMIT $TopKSim""".stripMargin
    },
    "q_zorder" -> {
      // Morton interleave mirrored as plain bit arithmetic (bit j of x at
      // position 2j, of y at 2j+1) — generated to match Layout.zValue
      val terms = (0 until 10).map(j =>
        s"(((user_id % 1024) >> $j) & 1) * ${1L << (2 * j)} + " +
          s"(((event_id % 1024) >> $j) & 1) * ${1L << (2 * j + 1)}")
      s"SELECT event_id, CAST(${terms.mkString(" + ")} AS BIGINT) AS zv FROM events"
    },
    "q_multires" ->
      """WITH h AS (SELECT event_type,
        |                  (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us,
        |                  count(*) AS n_events,
        |                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |                    AS sum_value
        |           FROM events GROUP BY 1, 2),
        |d AS (SELECT event_type,
        |             (epoch_us(ts) // 86400000000) * 86400000000 AS bucket_us,
        |             count(*) AS n_events,
        |             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |               AS sum_value
        |      FROM events GROUP BY 1, 2)
        |SELECT 'hour' AS resolution, event_type, bucket_us, n_events,
        |       CAST(sum_value AS DOUBLE) AS sum_value
        |FROM h
        |WHERE (bucket_us >= 1704175200000000 AND bucket_us < 1704240000000000)
        |   OR (bucket_us >= 1705708800000000 AND bucket_us < 1705773600000000)
        |UNION ALL
        |SELECT 'day', event_type, bucket_us, n_events, CAST(sum_value AS DOUBLE)
        |FROM d
        |WHERE bucket_us >= 1704240000000000 AND bucket_us < 1705708800000000""".stripMargin,
  )
}
