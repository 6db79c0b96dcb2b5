package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over relational edge sets — the second graph
  * operator family next to [[Dedup.dedupClusters]]' connected components:
  * fixed-iteration PageRank, engine-exact.
  *
  * Determinism: ranks are FIXED-POINT integers — pr is held in units of
  * 10⁻¹⁸ as a BIGINT ([[OneFx]] = 10¹⁸ is "1.0"). Every step is integer
  * arithmetic: `pr_fx div outdeg` (truncating integer division) per
  * message, a plain `sum()` of longs per destination (long addition is
  * associative, so the codegen'd hash aggregate is order-independent by
  * construction — no sorted fold, no salting, no collect_list), and a
  * damping multiply as `(msum · dNum) div dDen` widened through
  * DECIMAL(38,0) so the 8500× product cannot overflow. An oracle engine
  * replays the identical recurrence with its own integer types (HUGEINT
  * in DuckDB) and reproduces every rank bit-for-bit; the one final
  * `CAST(fx AS DOUBLE) / 1e18` is IEEE-defined (10¹⁸ = 2¹⁸·5¹⁸ is
  * exactly representable, 5¹⁸ < 2⁴²) and identical across engines.
  * Truncation quantizes each message at 10⁻¹⁸ — far below any ranking
  * use — and only ever *loses* mass, so no overflow path exists:
  * Σ pr_fx ≤ 10¹⁸ keeps every per-node message sum well under Long.Max.
  *
  * Scale: the bare (src, dst) edge frame is src-partitioned and
  * checkpointed ONCE; each iteration joins a NODE-sized contribution-
  * rate frame into it (AQE broadcasts while it fits; sort-merge against
  * the existing partitioning beyond that — never an |E| re-shuffle) and
  * aggregates per destination with MAP-SIDE PARTIAL sums — a power-law
  * hub costs one long per partition upstream, so no skew handling is
  * needed at all (the previous sorted-fold design needed a hot-set
  * broadcast + two-level salt to bound its buffers; exact integer sums
  * make all of that apparatus unnecessary). Only node-sized frames move
  * between iterations; lineage grows linearly and is checkpointed every
  * 4th step purely to bound plan depth. Iteration count is fixed (an
  * offline-analytics setting), not convergence-driven.
  *
  * Failure story: every cut here goes through [[Materialize]]
  * (`Materialize.edges` for edge-sized frames). With no Spark checkpoint
  * directory a lost block or executor fails the query loudly; with one
  * set, every cut is a reliable checkpoint and the loops survive the
  * loss with the same answer. */
object Graph {
  /** Width for an edge checkpoint that per-iteration scans + map-side
    * aggregations will read (r13): the configured shuffle-partition
    * default is a per-CORE convention, so it FIXES per-task row volume
    * × data size — at 10× edges every iteration's partial-agg hash map
    * folds 10× rows per task and spills (measured: q_pagerank sf10
    * 282 s at 32 parts → 67.6 s at 256; the per-iteration e2⋈crate
    * scan and the groupBy(dst) partial agg both run at e2's width).
    * Sized from the EXACT edge count the caller just materialized —
    * the same count-gating pattern as [[resourceAllocation]]'s
    * pair-volume exchange — at ~1 M edge rows per task, capped at
    * 4096. Never below the session default (small graphs keep the
    * cheap plan). */
  private def edgeParts(spark: SparkSession, edgeCount: Long): Int =
    math.max(spark.sessionState.conf.numShufflePartitions,
      math.min(4096L, edgeCount / 1000000L + 1L).toInt)

  /** Re-exchange an already-checkpointed edge frame to [[edgeParts]]
    * width when the count warrants it, releasing the narrow original;
    * below the threshold the input is returned untouched (zero extra
    * work at small scale — the count on a checkpoint is ~free). */
  private def widenEdges(e: DataFrame, key: Column): (DataFrame, Long) = {
    val spark = e.sparkSession
    val m = e.count()
    val wide = edgeParts(spark, m)
    if (wide <= spark.sessionState.conf.numShufflePartitions) (e, m)
    else {
      val w = Materialize.edges(e.repartition(wide, key))
      Materialize.release(e)
      (w, m)
    }
  }

  /** Undirected customer↔supplier co-transaction graph from the order
    * lineage: node ids are disjoint (customer 2k, supplier 2k+1), each
    * relationship contributes both directed edges, multi-edges collapse. */
  def customerSupplierEdges(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    // dedup the undirected pair set ONCE; the two directed copies are
    // disjoint by construction (src parity differs), so no second
    // distinct is needed after the union
    val base = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
    base.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(base.select(col("b").as("src"), col("a").as("dst")))
  }

  /** `iters` PageRank steps over a SIMPLE directed edge set — the input
    * must carry no duplicate (src, dst) pairs (a dedup here would
    * re-shuffle every caller's already-distinct edges):
    * pr' = (1−d)/N + d · Σ_{u→v} pr(u)/outdeg(u), seeded uniformly.
    * Returns (node, pr) for every node. `damping` is quantized to 10⁻⁴
    * (d = round(damping·10⁴)/10⁴) so the damping multiply stays exact
    * integer arithmetic.
    *
    * DANGLING NODES (declared divergence, decided — do not drift): a
    * node with no out-edges contributes NO mass to the next round (its
    * rank is dropped, not redistributed), so total mass shrinks unless
    * the graph is sink-free — the recurrence above, replayed verbatim
    * by the oracle, NOT the textbook variant that re-spreads dangling
    * mass uniformly. Rationale: every declared caller feeds symmetric
    * expansions (sink-free by construction, the two variants coincide);
    * the drop keeps each round one edge-sized join + one node-sized agg
    * with no extra global aggregate; and rankings are unaffected on
    * sink-free inputs. If a textbook variant is ever needed, add the
    * per-round dangling-mass scalar (one node-sized agg) as a NEW
    * operator — changing this one silently breaks oracle bit-parity.
    *
    * `symmetric = true` declares the edge set is its own transpose
    * (every undirected graph expanded to both directions — e.g.
    * [[customerSupplierEdges]]). Then the src column alone spans the
    * node set and every node has an in-edge, so deriving nodes from
    * both endpoint columns and the final no-in-edge completion join are
    * skipped. Declaring it for a non-symmetric edge set silently drops
    * src-only nodes from the output — caller's contract. */
  def pageRank(edges: DataFrame, iters: Int, damping: Double,
               symmetric: Boolean = false): DataFrame = {
    val eRaw = edges.select(col("src"), col("dst"))
    // the edge frame stays BARE (src, dst) — hash-partitioned by src
    // once and checkpointed, so no iteration ever re-shuffles |E| rows
    // and no |E|-wide sort happens anywhere (a window/outdeg column on
    // the edges would sort 10⁷ rows just to attach a per-node count).
    // outdeg lives in a NODE-sized frame aggregated straight off the
    // cached blocks — groupBy(src) reuses the partitioning, no exchange.
    // Width is count-gated (r13, [[edgeParts]]): every iteration scans
    // e2 and partial-aggs at ITS width, so a default-width checkpoint
    // spills per iteration once per-task volume outgrows memory.
    val (e2, _) = widenEdges(
      Materialize.edges(eRaw.repartition(col("src"))), col("src"))
    val outdeg = Materialize(e2.groupBy(col("src")).agg(count(lit(1)).as("outdeg")))
    // symmetric: src alone spans V, and it's exactly outdeg's key set —
    // no 2|E| union, no extra dedup
    val nodesDf =
      if (symmetric) outdeg.select(col("src").as("node"))
      else Materialize(e2.select(col("src").as("node"))
        .unionByName(e2.select(col("dst").as("node"))).distinct())
    val n = nodesDf.count() // driver scalar: |V| is bounded metadata
    if (n == 0) // empty edge set: no nodes, not a division by zero
      return nodesDf.select(col("node"), lit(0d).as("pr")).limit(0)
    val dNum = math.round(damping * DampDen)
    // (1−d)/N in 10⁻¹⁸ units, exact via BigInt (1500·10¹⁸ overflows Long)
    val baseFx = (BigInt(DampDen - dNum) * OneFx / (BigInt(DampDen) * n)).toLong
    // d·msum div den, widened through DECIMAL(38,0) against Long overflow
    def damped(msum: String): String =
      s"CAST(coalesce($msum, CAST(0 AS BIGINT)) AS DECIMAL(38,0)) " +
        s"* $dNum div $DampDen"
    if (iters == 0)
      return nodesDf.select(col("node"), lit((OneFx / n) / 1e18).as("pr"))
    // Between iterations only NODE-sized frames move: the dst-keyed
    // message sums, and a per-source "contribution rate" crate(src) =
    // pr(src) div outdeg(src) built by joining the sums onto the outdeg
    // frame (|V|⋈|V|). A node absent from the sums (no in-edges) holds
    // the CONSTANT rank baseFx — coalesce completes it. The only |E|
    // touch per iteration is e2 ⋈ crate, broadcast under the count-
    // gated [[BroadcastNodeBudget]] — |V| = n is known EXACTLY here,
    // and the 10 MB estimator default flips this join to per-iteration
    // sort-merge passes over |E| a few million nodes too early
    // (billions of nodes: sort-merge against the already
    // src-partitioned e2, still no |E| re-shuffle). Iteration 1 is
    // edge-join-lean outright: uniform pr₀ divides outdeg directly.
    def maybeB(v: DataFrame): DataFrame =
      if (n <= BroadcastNodeBudget) v.hint("broadcast") else v
    var crate = outdeg.select(col("src"),
      expr(s"CAST(${OneFx / n} AS BIGINT) div outdeg").as("crate"))
    var sums = e2.join(maybeB(crate), Seq("src"))
      .groupBy(col("dst")).agg(sum(col("crate")).as("msum"))
    var sumsCk: DataFrame = null
    for (i <- 1 until iters) {
      crate = outdeg
        .join(sums.withColumnRenamed("dst", "src"), Seq("src"), "left")
        .select(col("src"), expr(
          s"(CAST($baseFx AS BIGINT) + ${damped("msum")}) div outdeg")
          .as("crate"))
      sums = e2.join(maybeB(crate), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("crate")).as("msum"))
      // lineage here grows LINEARLY (each step references e2/outdeg and
      // the previous sums once), so a full materialization job per step
      // costs more than it saves — checkpoint only every 4th step to
      // bound plan depth / compile time for high iteration counts
      if (i % 4 == 3 && i != iters - 1) {
        sums = Materialize(sums)
        if (sumsCk != null) Materialize.release(sumsCk) // the prior periodic
        sumsCk = sums // checkpoint is 4 rounds stale: drop its blocks
      }
    }
    // symmetric graphs have no message-less node, so the sums frame IS
    // the answer; otherwise complete with the constant-rank nodes
    val ranked =
      if (symmetric) sums.withColumnRenamed("dst", "node")
      else nodesDf.join(sums.withColumnRenamed("dst", "node"), Seq("node"), "left")
    ranked.select(col("node"),
      (expr(s"CAST($baseFx AS BIGINT) + ${damped("msum")}").cast("double")
        / lit(1e18)).as("pr"))
  }

  /** `iters` PERSONALIZED PageRank steps: teleportation returns to the
    * `sources` seed set (uniformly over it) instead of to every node —
    * pr' = (1−d)·1{v∈S}/|S| + d · Σ_{u→v} pr(u)/outdeg(u), seeded
    * 1{v∈S}/|S|. The similarity-to-the-seeds measure behind
    * "related items" / local graph exploration. Same fixed-point 10⁻¹⁸
    * BIGINT arithmetic as [[pageRank]] (exact, associative,
    * engine-replayable), same node-sized-frames iteration shape, plus
    * one extra sparsity win unique to the personalized variant: a
    * source whose rank truncates to zero sends NO messages (its
    * contribution rows are filtered before the edge join), so early
    * iterations touch only the seed neighborhood frontier, not the
    * whole graph — dropping zero terms from a sum is exact, so the
    * oracle (which sums the zeros) still matches bit-for-bit. Returns
    * (node, pr) for EVERY node; never-reached nodes carry rank 0.
    * No dangling-mass redistribution, like [[pageRank]]. */
  def personalizedPageRank(edges: DataFrame, sources: Seq[Long], iters: Int,
      damping: Double): DataFrame = {
    require(sources.nonEmpty, "personalized PageRank needs a seed set")
    val s = sources.distinct
    val eRaw = edges.select(col("src"), col("dst"))
    // count-gated width, as in [[pageRank]] (r13)
    val (e2, _) = widenEdges(
      Materialize.edges(eRaw.repartition(col("src"))), col("src"))
    val outdeg = Materialize(e2.groupBy(col("src")).agg(count(lit(1)).as("outdeg")))
    val nodesDf = Materialize(e2.select(col("src").as("node"))
      .unionByName(e2.select(col("dst").as("node"))).distinct())
    val dNum = math.round(damping * DampDen)
    val baseFx = (BigInt(DampDen - dNum) * OneFx / (BigInt(DampDen) * s.size)).toLong
    val seedFx = OneFx / s.size
    def isSeed(c: Column): Column = c.isin(s: _*)
    def damped(msum: String): String =
      s"CAST(coalesce($msum, CAST(0 AS BIGINT)) AS DECIMAL(38,0)) " +
        s"* $dNum div $DampDen"
    if (iters == 0)
      return nodesDf.select(col("node"),
        (when(isSeed(col("node")), lit(seedFx)).otherwise(lit(0L))
          .cast("double") / lit(1e18)).as("pr"))
    var crate = outdeg
      .withColumn("pr_fx", when(isSeed(col("src")), lit(seedFx)).otherwise(lit(0L)))
      .select(col("src"), expr("pr_fx div outdeg").as("crate"))
      .filter(col("crate") =!= 0L) // the frontier filter
    var sums = e2.join(crate, Seq("src"))
      .groupBy(col("dst")).agg(sum(col("crate")).as("msum"))
    var sumsCk: DataFrame = null
    for (i <- 1 until iters) {
      crate = outdeg
        .join(sums.withColumnRenamed("dst", "src"), Seq("src"), "left")
        .withColumn("base",
          when(isSeed(col("src")), lit(baseFx)).otherwise(lit(0L)))
        .select(col("src"),
          expr(s"(base + ${damped("msum")}) div outdeg").as("crate"))
        .filter(col("crate") =!= 0L)
      sums = e2.join(crate, Seq("src"))
        .groupBy(col("dst")).agg(sum(col("crate")).as("msum"))
      if (i % 4 == 3 && i != iters - 1) {
        sums = Materialize(sums)
        if (sumsCk != null) Materialize.release(sumsCk) // the prior periodic
        sumsCk = sums // checkpoint is 4 rounds stale: drop its blocks
      }
    }
    nodesDf
      .join(sums.withColumnRenamed("dst", "node"), Seq("node"), "left")
      .select(col("node"),
        ((when(isSeed(col("node")), lit(baseFx)).otherwise(lit(0L)) +
          expr(damped("msum"))).cast("double") / lit(1e18)).as("pr"))
  }

  /** Multi-source BFS: (node, hops) = shortest hop distance from the
    * seed set for every node reachable within `maxHops` (seeds at 0,
    * unreached nodes absent). Frontier-iterative: each step is
    * frontier ⋈ edges (AQE broadcasts the frontier while it's small;
    * the edge frame is src-partitioned once and never re-shuffles)
    * followed by a node-bounded anti-join against the visited set —
    * never |V|², at most `maxHops` passes over the edges, and an empty
    * frontier exits early. Every frontier/visited frame is node-sized
    * and checkpointed, so lineage stays flat at any hop count. */
  def bfsHops(edges: DataFrame, sources: Seq[Long], maxHops: Int): DataFrame = {
    require(sources.nonEmpty, "BFS needs a seed set")
    val spark = edges.sparkSession
    import spark.implicits._
    val e2 = Materialize.edges(edges.select(col("src"), col("dst"))
      .repartition(col("src")))
    var visited = Materialize(sources.distinct.toDF("node")
      .select(col("node"), lit(0L).as("hops")))
    var frontier = visited.select(col("node"))
    var h = 1
    var done = false
    while (h <= maxHops && !done) {
      val next = Materialize(
        e2.join(frontier.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .select(col("node"), lit(h.toLong).as("hops")))
      if (next.isEmpty) { done = true; Materialize.release(next) }
      else {
        val prevVisited = visited
        visited = Materialize(visited.unionByName(next))
        Materialize.release(prevVisited) // folded into the new checkpoint above
        // a frontier backed by a prior round's `next` is superseded;
        // round 1's frontier is a view on the initial visited, whose
        // blocks were released with prevVisited just above
        if (h > 1) Materialize.release(frontier)
        frontier = next.select(col("node"))
        h += 1
      }
    }
    // the last `next`-backed frontier backs nothing the caller sees —
    // visited is its own checkpoint (h == 1 means frontier still views
    // the LIVE initial visited: leave it)
    if (h > 1) Materialize.release(frontier)
    Materialize.release(e2) // visited is its own cut: the edges are dead
    visited
  }

  /** Harmonic centrality from a sampled seed set — the scalable stand-in
    * for exact closeness (all-pairs BFS is O(|V|·|E|); the standard
    * estimator runs exact BFS from |seeds| sampled sources and scores
    * every node by the harmonic sum of its distances TO the seeds):
    * `harmonic_x60(v) = Σ_{s ∈ seeds, 0 < d(s,v) ≤ maxHops} 60 div d(s,v)`.
    * The ×60 integer scaling (60 = lcm 1..6) makes every reciprocal an
    * EXACT integer for maxHops ≤ 6, so the score reproduces bit-for-bit
    * on any engine — summing 1/d doubles would be shuffle-order-dependent.
    *
    * Scale: one (seed,node)-keyed min-dist frame, |seeds|·|V| rows max;
    * each round joins only the FRONTIER (nodes finalized last round —
    * exact for unweighted BFS: a first-reached distance is final) against
    * the one checkpointed edge frame, then hash-min-aggregates — the
    * pageRank cost class × |seeds|. Per-round checkpoints released; the
    * final top-k is TakeOrderedAndProject, never a global sort. */
  def harmonicCentrality(edges: DataFrame, seeds: Seq[Long], maxHops: Int,
      topK: Int): DataFrame = {
    require(seeds.nonEmpty, "harmonic centrality needs a seed sample")
    require(maxHops >= 1 && maxHops <= 6,
      "60/d is integer-exact only for d ≤ 6 (60 = lcm of 1..6)")
    val spark = edges.sparkSession
    import spark.implicits._
    val e2 = Materialize.edges(edges.select(col("src"), col("dst"))
      .repartition(col("src")))
    var dist = Materialize(seeds.distinct.toDF("seed")
      .select(col("seed"), col("seed").as("node"), lit(0L).as("dist")))
    for (h <- 1 to maxHops) {
      val frontier = dist.filter(col("dist") === lit((h - 1).toLong))
        .withColumnRenamed("node", "src").select(col("seed"), col("src"))
      val cand = e2.join(frontier, Seq("src"))
        .select(col("seed"), col("dst").as("node"), lit(h.toLong).as("dist"))
      val prev = dist
      dist = Materialize(dist.unionByName(cand)
        .groupBy(col("seed"), col("node")).agg(min(col("dist")).as("dist")))
      Materialize.release(prev) // eager checkpoint above: prev round's blocks are dead
    }
    Materialize.release(e2) // dist is its own cut: the edges are dead
    dist.filter(col("dist") > 0)
      .groupBy(col("node"))
      .agg(sum(expr("60 div dist")).as("harmonic_x60"),
        count(lit(1)).as("n_seeds_reached"))
      .orderBy(col("harmonic_x60").desc, col("node"))
      .limit(topK)
  }

  /** Degree distribution of an undirected pair graph — the first plot
    * anyone makes of a graph (power-law check, hub detection, join-skew
    * forecasting for every other graph operator). Two hash aggregates:
    * degree per node, then node count per degree. Output is ≤ max-degree
    * rows at any scale. */
  def degreeDistribution(pairs: DataFrame): DataFrame =
    pairs.select(col("u").as("node"))
      .unionByName(pairs.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))

  /** Undirected part co-purchase graph: distinct (u < v) part pairs
    * that share at least one order. Pairs are generated IN-ROW from
    * each order's sorted part set (r15, guide §2.4): one hash aggregate
    * replaces the l_orderkey self-join — same shuffled bytes, but no
    * second sort pipeline and no 49-rows-per-order join expansion
    * before the u < v filter. Bounded by order size (TPC-H ≤ 7 lines ⇒
    * ≤ 21 pairs per order), so per-group state is a handful of longs
    * and the expansion stays linear in |lineitem|, never quadratic in
    * |part|. Identical pair set to the join form (collect_set dedups
    * within the order exactly as u < v + distinct did; nulls drop on
    * both paths) — pinned by the joined-twin equality spec and the
    * unchanged oracles of the 7 queries built on it. A/B: 2.0× at
    * sf0.1 (fixed sort cost dominates), even at sf1/sf10 (the pair
    * distinct dominates both shapes). */
  def partCoPurchasePairs(lineitem: DataFrame): DataFrame =
    lineitem.groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
      .select(posexplode(col("ps")).as(Seq("i", "u")), col("ps"))
      .select(col("u"), explode(expr("slice(ps, i + 2, size(ps))")).as("v"))
      .distinct()

  /** Both directed copies of an undirected (u < v) pair set — the two
    * halves are disjoint by the u < v invariant, so no dedup. */
  def symmetricEdges(pairs: DataFrame): DataFrame =
    pairs.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(pairs.select(col("v").as("src"), col("u").as("dst")))

  /** Co-purchase edges WEIGHTED by affinity: (u, v, w) with
    * w = 10¹² div cnt — popular pairings are cheap to traverse, rare
    * ones expensive (the standard similarity→distance flip). Integer
    * division keeps weights exact longs, so path costs sum
    * deterministically. Pair counting stays bounded: pairs per order are
    * C(order size, 2), so the shuffle is |orders|·C(size,2) — no
    * corpus² anywhere. */
  def coPurchaseWeights(lineitem: DataFrame): DataFrame =
    // r15: same in-row pair generation as partCoPurchasePairs, but over
    // the sorted part LIST (duplicates kept — cnt counts occurrence
    // pairs, occ(u)·occ(v) per order, exactly as the self-join did);
    // the v > u filter drops the equal-value pairs the strict u < v
    // join predicate never formed. Joined-twin equality spec + the
    // unchanged q_sssp oracle pin the rewrite.
    lineitem.groupBy(col("l_orderkey"))
      .agg(array_sort(collect_list(col("l_partkey"))).as("ps"))
      .select(posexplode(col("ps")).as(Seq("i", "u")), col("ps"))
      .select(col("u"), explode(expr("slice(ps, i + 2, size(ps))")).as("v"))
      .filter(col("v") > col("u"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cnt"))
      .select(col("u"), col("v"),
        graft.model.floorDivCol(lit(1000000000000L), col("cnt")).as("w"))

  /** Hop-limited single-source(-set) shortest paths: `rounds` Bellman-
    * Ford relaxations of min-plus over exact integer weights — the
    * "cheapest affinity path within k hops" query. Seeds enter at
    * distance 0; after r rounds every node holds the exact minimum cost
    * over paths of ≤ r hops from any seed (unreached nodes are absent).
    * Min and + over longs are exact, so the result is a pure function of
    * the graph — any engine replays it by unrolling the same rounds.
    *
    * Scale: same discipline as [[labelPropagation]]/[[kCore]] — the edge
    * frame shuffles ONCE (src-partitioned, checkpointed); each round
    * joins a node-sized distance frame into it (AQE broadcasts while it
    * fits), then one map-side-partial min aggregate; between rounds only
    * node-sized frames move, checkpointed to keep lineage flat.
    *
    * Inputs: edges (src, dst, w: long), seeds (node). Output: (node,
    * dist) with dist in the weight's fixed-point units. */
  def sssp(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    val e2 = Materialize.edges(edges.select(col("src"), col("dst"), col("w"))
      .repartition(col("src")))
    var dist = Materialize(seeds.select(col("node")).distinct()
      .select(col("node"), lit(0L).as("dist")))
    for (_ <- 1 to rounds) {
      val cand = e2.join(dist.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      val prev = dist
      dist = Materialize(dist.unionByName(cand)
        .groupBy(col("node")).agg(min(col("dist")).as("dist")))
      Materialize.release(prev) // eager checkpoint above: prev round's blocks are dead
    }
    Materialize.release(e2) // dist is its own cut: the edges are dead
    dist
  }

  /** At most `maxRounds` k-core peel rounds over a SYMMETRIC edge set
    * (both directions present, so out-degree IS undirected degree):
    * each round drops every node of residual degree < k and restricts
    * the edges to survivors, cascading until the true k-core (or the
    * round cap) is reached. Returns (node, deg) — the residual degree
    * table of the final edge set. Every round is a hash aggregate plus
    * two semi joins of the edge frame against a NODE-sized survivor
    * frame (AQE broadcasts it while small); an unchanged edge count
    * exits early, which is exact — peeling is monotone, so a fixed
    * point stays fixed and the capped unrolling replays it. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    val e0 = Materialize.edges(edges.select(col("src"), col("dst"))
      .repartition(col("src")))
    // survivor sets shrink MONOTONICALLY (a node outside S has no edges
    // in e(S), so it can never re-qualify), so the round-r edge set is
    // just e0 semi-filtered by the LATEST survivors — each round is one
    // pass over the single checkpointed edge frame with two broadcast
    // semi joins (node-sized build sides, AQE-sized off the agg stage;
    // src partitioning survives, the degree agg stays exchange-free)
    // and only NODE-sized survivor frames ever materialize
    // The survivor count is already known exactly (the fixed-point
    // check counts it), so the build-side choice is made from REAL
    // cardinality, not estimator stats: under the budget the survivor
    // set is hinted broadcast — one pass over the src-partitioned edge
    // blocks, zero exchange — because the default 10 MB threshold
    // silently flips these semi-joins to sort-merge once |V| passes a
    // few million (measured 81× at the 100× stress set); beyond the
    // budget SMJ is the right plan and the hint is withheld.
    def restrict(s: DataFrame, n: Long): DataFrame = {
      val sb = if (n <= BroadcastNodeBudget) s.hint("broadcast") else s
      e0.join(sb, Seq("src"), "left_semi")
        .join(sb.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
    }
    // each round checkpoints the DEGREE frame (node-sized) and derives
    // the survivor set as a narrow filter view over it — so when the
    // fixed point is detected, that round's degree checkpoint IS the
    // answer (at the fixed point every surviving src has deg ≥ k, so
    // the unfiltered degree frame equals the final restriction's
    // degrees) and no extra restrict + |E|-pass agg is needed on exit
    var kept: DataFrame = null    // survivor view over the latest degree checkpoint
    var lastDeg: DataFrame = null // that checkpoint (set when the fixed point hits)
    var prevN = -1L
    var r = 0
    while (r < maxRounds && lastDeg == null) {
      val e = if (kept == null) e0 else restrict(kept, prevN)
      val degF = Materialize(e.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      val next = degF.filter(col("deg") >= k).select(col("src"))
      val n = next.count()
      // degF is materialized: the prior round's cut is superseded
      if (kept != null) Materialize.release(kept)
      if (n == prevN) lastDeg = degF // nothing peeled: degF is the answer
      else { kept = next; prevN = n }
      r += 1
    }
    val result =
      if (lastDeg != null) { // fixed-point exit: zero extra passes
        Materialize.release(e0) // lastDeg is its own cut: the edges are dead
        lastDeg
      } else { // round cap hit before convergence: one final restriction
        val eFinal = if (kept == null) e0 else restrict(kept, prevN)
        eFinal.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      }
    result.select(col("src").as("node"), col("deg"))
  }

  /** The oriented-wedge census shared by [[triangleStats]] and
    * [[localClustering]]: degree totals, the degree-ordered oriented
    * edge frame, the open-wedge frame, and the closing-edge probe side.
    *
    * @param deg      (node, deg) — undirected degree, checkpointed
    * @param oriented (src, dst, ddeg) — each edge pointed from its
    *                 (deg, id)-smaller endpoint, checkpointed (reused by
    *                 both wedge legs AND the closing probe)
    * @param wedges   (src, b, c) — open wedges apexed at src with
    *                 b ≺ c in the same (deg, id) order
    * @param closing  (b, c) — the oriented edges renamed for the probe
    * @param droppedApexes apex nodes excluded by the fan-out budget
    *                 (0 when the budget never trips) */
  final case class WedgeCensus(deg: DataFrame, oriented: DataFrame,
      wedges: DataFrame, closing: DataFrame, droppedApexes: Long)

  /** Builds the degree-ordered wedge census over an undirected simple
    * graph given as distinct (u, v) pairs with u < v. The orientation
    * (each edge points from its (deg, id)-smaller endpoint) bounds every
    * node's out-degree by O(√|E|), so the wedge join enumerates
    * O(|E|^1.5) candidates worst-case instead of Σdeg² — the standard
    * skew-immunity argument for triangle listing; a celebrity node of
    * degree millions RECEIVES its edges (in-degree) but fans out at most
    * √|E| wedges.
    *
    * Degeneracy budget (`maxFanout`, the [[resourceAllocation]] cap
    * pattern): O(|E|^1.5) is skew-immune but still superlinear — a
    * 100×-pathological near-clique component would grow wedge volume
    * ~1000× and swamp the closing-probe shuffle. A finite `maxFanout`
    * drops the wedge fan-out of any apex whose ORIENTED out-degree
    * exceeds it (its edges still participate as wedge legs ending at it
    * and as closing edges — only wedges APEXED there are skipped), which
    * caps wedge volume at |V|·C(maxFanout, 2) and makes degradation
    * predictable and OBSERVABLE: the dropped-apex count is computed and
    * logged, never silent. With the default ∞ budget the census is exact
    * and the sizing pass is skipped entirely (zero extra jobs). */
  private[graft] def wedgeCensus(pairsIn: DataFrame,
      maxFanout: Long = Long.MaxValue): WedgeCensus = {
    val pairs = Materialize.edges(pairsIn.select(col("u"), col("v")))
    val deg = Materialize(pairs.select(col("u").as("node"))
      .unionByName(pairs.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg")))
    // count-gated broadcast for the orientation's two degree attaches
    // (r13): |V| is exact off the checkpointed deg frame, and the 10 MB
    // estimator default flips these joins to sort-merge — two SORTS of
    // the full edge frame — a few million nodes too early (the same
    // flip the r9 kCore/pageRank fix closed for the iterative loops;
    // measured here as part of q_triangles' super-linear sf10 growth)
    val nV = deg.count()
    def maybeB(v: DataFrame): DataFrame =
      if (nV <= BroadcastNodeBudget) v.hint("broadcast") else v
    val du = maybeB(deg.select(col("node").as("u"), col("deg").as("du")))
    val dv = maybeB(deg.select(col("node").as("v"), col("deg").as("dv")))
    val firstU = (col("du") < col("dv")) ||
      (col("du") === col("dv") && col("u") < col("v"))
    // oriented edge set is reused three times (both wedge legs + the
    // closing-edge probe): materialize it once
    val oriented = Materialize.edges(
      pairs.join(du, Seq("u")).join(dv, Seq("v")).select(
        when(firstU, col("u")).otherwise(col("v")).as("src"),
        when(firstU, col("v")).otherwise(col("u")).as("dst"),
        when(firstU, col("dv")).otherwise(col("du")).as("ddeg")))
    val (apexEdges, dropped) =
      if (maxFanout == Long.MaxValue) (oriented, 0L)
      else {
        // one node-sized sizing job, only when a budget is set
        val outdeg = Materialize(oriented.groupBy(col("src"))
          .agg(count(lit(1)).as("outdeg")))
        val nDropped = outdeg.filter(col("outdeg") > maxFanout).count()
        val kept = oriented.join(
          outdeg.filter(col("outdeg") <= maxFanout).select(col("src")),
          Seq("src"), "left_semi")
        (kept, nDropped)
      }
    if (dropped > 0)
      System.err.println(
        s"[graft] wedgeCensus: fan-out budget $maxFanout dropped " +
          s"$dropped apex node(s); wedge counts at those apexes are " +
          "excluded (results are a declared under-count)")
    val e1 = apexEdges.select(col("src"), col("dst").as("b"), col("ddeg").as("db"))
    val e2 = apexEdges.select(col("src"), col("dst").as("c"), col("ddeg").as("dc"))
    val wedges = e1.join(e2, Seq("src"))
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
      .select(col("src"), col("b"), col("c"))
    val closing = oriented.select(col("src").as("b"), col("dst").as("c"))
    WedgeCensus(deg, oriented, wedges, closing, dropped)
  }

  /** Exact closing-edge probe of a wedge stream: which (src, b, c)
    * wedges have the (b, c) edge? The closing side is |E| rows while
    * the wedge side is O(|E|^1.5), and without intervention the
    * semi-join's exchange writes the FULL wedge stream to shuffle —
    * the one super-linear BYTE volume in the census (~8 B/row
    * compressed ≈ 120 GB at a 120 M-edge graph; the wedge COMPUTE is
    * inherent, the wedge SHUFFLE is not). Fix: a Bloom filter built
    * over xxhash64(b, c) of the edge-sized closing side (fpp 1 % ≈
    * 9.6 bits/edge) prefilters the wedge stream INSIDE the wedge
    * join's codegen span, before the exchange — only true triangles
    * plus an fpp-fraction of wedges ever hit the wire, and the exact
    * semi-join afterwards kills the bloom's false positives, so the
    * result is bit-identical to the unfiltered probe (same pattern as
    * [[Dedup.bloomContaminatedDocs]]). shuffle_hash on the exact join:
    * hashing the edge-sized build side beats sort-merge's sort of the
    * candidate stream, without a broadcast hint's driver ceiling.
    * The bloom pays off only when the wedge stream dwarfs the edge
    * set: below `minBloomWedges` (upper-bounded cheaply as Σ C(deg,2)
    * off the node-sized degree frame) the wedge shuffle is small and
    * the per-wedge hash+probe would cost more than it saves, so the
    * prefilter is skipped.
    *
    * Delivery is a TORRENT BROADCAST, not a plan literal
    * ([[graft.functions.BroadcastBloomMightContain]]): the filter is
    * built distributed at its FULL requested size
    * ([[graft.functions.BloomBuild]] — NOT `stat.bloomFilter`, which
    * silently clamps to the 8 MB runtime-filter limit and saturates),
    * the driver holds exactly ONE merged copy, and tasks carry only
    * the broadcast handle — no literal re-copied into every stage's
    * task binary. That converts the old fixed 500 M-edge driver
    * ceiling into a HEAP-PROPORTIONAL budget ([[bloomEdgeBudget]]:
    * ~1.2 B/edge at 1 % fpp, ≤ 10 % of driver max heap and of
    * `spark.driver.maxResultSize`; `maxBloomEdges` pins it). Above
    * the budget the filter DEGRADES before it gives up: the same
    * budgeted bits are spread over the larger edge set
    * and the fpp rises (optimal sizing p = exp(−(bits/|E|)·ln²2) —
    * 1 % at the budget, 10 % at 2× it, 50 % at ~13.8×). Every probe
    * is exactness-preserving (the semi-join kills false positives),
    * so a half-open filter still halves the one super-linear shuffle
    * for the SAME memory; only past fpp 0.5 — where the filter drops
    * less than half the stream — is it skipped, with a log line, and
    * the plan degrades to the plain (still exact) shuffle_hash probe.
    * At that |E| (~70 B edges on a 64 g driver) shard the graph or
    * grow the driver. */
  private[graft] def closedWedges(cen: WedgeCensus,
      maxBloomEdges: Long = -1L,
      minBloomWedges: Long = 256000000L,
      shuffleHashEdgeCap: Long = ShuffleHashEdgeCap): DataFrame = {
    import graft.functions.BroadcastBloomMightContain
    import org.apache.spark.sql.GraftColumnBridge
    val edgeBudget =
      if (maxBloomEdges >= 0L) maxBloomEdges
      else bloomEdgeBudget(cen.oriented.sparkSession)
    val nEdges = cen.oriented.count() // one cheap job: materialized
    // wedge-volume upper bound: one node-sized agg off the checkpointed
    // degree frame (the ORIENTED volume is smaller still, so skipping
    // under this bound never skips a case that needed the bloom)
    val nWedges =
      if (minBloomWedges == 0L) Long.MaxValue
      else Option(cen.deg.agg(sum(expr("deg * (deg - 1) div 2")))
        .head.get(0)).fold(0L)(_.asInstanceOf[Long])
    // above the edge budget the budgeted BITS stay fixed and the fpp
    // rises instead of the bloom being dropped: bits/key for target p
    // is −ln(p)/ln²2, so re-spreading the budget's bits (sized for 1 %
    // at edgeBudget keys) over nEdges keys yields
    // p = exp(−(budgetBits/nEdges)·ln²2)
    val ln2sq = math.log(2) * math.log(2)
    val budgetBits = edgeBudget.toDouble * (-math.log(0.01) / ln2sq)
    val fpp =
      if (nEdges <= edgeBudget) 0.01
      else math.exp(-(budgetBits / nEdges) * ln2sq)
    // ratio gate (measured r9, break-even BRACKETED r10): the bloom's
    // own cost is edge-shaped — one shuffle of every closing-edge hash
    // plus a bits-sized broadcast — while its saving is wedge-shaped.
    // On the 1 B-edge circulant (wedge bound 7× edges) the bloom path
    // measured 406 s vs 248 s PLAIN with no shuffle saved (r9); on the
    // hub-heavy sf1 co-purchase graph (bound ≫ 12× edges) it removed
    // 75 % of census shuffle (r8). The r10 ratio sweep (circulants of
    // bound-ratio 7/13/17 at 200-450 M edges, closed-form-checked) pins
    // the crossover with DETERMINISTIC shuffle bytes — wall on the probe
    // host carries ±45 % same-config noise and cannot resolve it:
    // ratio 7 the bloom ADDS bytes (3.66 vs 3.12 GB), ratio 13 it saves
    // 18 % (6.18 vs 7.58 GB), ratio 17 it saves 28 % (8.30 vs 11.60 GB)
    // and wins wall in both clean runs. The byte crossover sits in
    // (7, 13); 12 lies inside that bracket erring toward plain (which
    // is never wrong, only sometimes slower). The bound overstates
    // oriented wedges ~4× on regular graphs, so 12× bound ≈ 3× true
    // wedges. minBloomWedges = 0 still forces the bloom for tests/probes.
    val wedgeRatioSkip =
      minBloomWedges > 0L && nWedges < WedgeEdgeRatioGate * nEdges
    val candidates =
      if (nEdges == 0L || fpp > 0.5 || nWedges < minBloomWedges ||
          wedgeRatioSkip) {
        if (nEdges > 0L && fpp > 0.5 && nWedges >= minBloomWedges)
          System.err.println(s"[graft] closedWedges: $nEdges edges vs " +
            s"bloom budget $edgeBudget leave fpp ${"%.2f".format(fpp)} " +
            "> 0.5; probing without prefilter (exact, but full wedge " +
            "shuffle)")
        cen.wedges
      } else {
        if (fpp > 0.01)
          System.err.println(s"[graft] closedWedges: $nEdges edges " +
            s"exceed bloom budget $edgeBudget; degrading fpp to " +
            s"${"%.3f".format(fpp)} at the budgeted filter size " +
            "(exact — the semi-join kills false positives)")
        // [[graft.functions.BloomBuild]], NOT stat.bloomFilter: the
        // built-in silently clamps to the runtime-filter limits (8 MB /
        // 4 M items) and SATURATES at budget scale — see BloomBuild's
        // scaladoc for the measurement that found it
        val bf = graft.functions.BloomBuild.overLongColumn(
          cen.closing.select(xxhash64(col("b"), col("c")).as("h")),
          "h", nEdges, fpp)
        // torrent-broadcast the merged filter: tasks get a handle, the
        // bits move once per executor (the ContextCleaner reclaims the
        // broadcast when the expression is GC'd after the query)
        val bc = cen.oriented.sparkSession.sparkContext.broadcast(bf)
        val mightContain = GraftColumnBridge.column(BroadcastBloomMightContain(
          bc, GraftColumnBridge.expression(xxhash64(col("b"), col("c")))))
        cen.wedges.filter(mightContain)
      }
    // left-semi keeps each wedge row that closes (multiplicity of the
    // wedge side is preserved — oriented edges are distinct, so one
    // match per row). shuffle_hash only while the per-task BUILD stays
    // cache-sized: the hash build cannot spill, and AQE's BYTE-based
    // coalescing re-fattens partitions behind any configured count
    // (measured at 1 B edges: 64 MB advisory over zstd-compressed long
    // pairs ≈ 8 M rows ≈ half-GB builds, OOM at BOTH 256 and 1024
    // configured partitions — while 750 M edges passed under lz4, whose
    // fatter bytes left more post-coalesce partitions). Past the cap the
    // planner's sort-merge join spills gracefully; the cost is one sort
    // of the candidate side, the failure mode is none.
    val closingSide =
      if (nEdges <= shuffleHashEdgeCap) cen.closing.hint("shuffle_hash")
      else cen.closing
    candidates.join(closingSide, Seq("b", "c"), "left_semi")
  }

  /** Exact triangle count + wedge count + global clustering coefficient
    * (3·T/W) over an undirected simple graph given as distinct (u, v)
    * pairs with u < v. Rides [[wedgeCensus]] (degree-ordered
    * orientation, O(|E|^1.5) wedge bound). Each triangle {x ≺ y ≺ z} is
    * counted exactly once, as a wedge at its smallest vertex closed by
    * the (y, z) edge — via [[closedWedges]]' bloom-prefiltered probe.
    * No driver-side collection; wedge count is Σ C(deg, 2) straight off
    * the node-sized degree frame. */
  def triangleStats(pairsIn: DataFrame,
      maxFanout: Long = Long.MaxValue): DataFrame = {
    val cen = wedgeCensus(pairsIn, maxFanout)
    val tri = closedWedges(cen)
      .agg(count(lit(1)).as("triangles"))
    val wed = cen.deg
      .agg(sum(expr("deg * (deg - 1) div 2")).cast("long").as("wedges"))
    tri.crossJoin(wed).select(col("triangles"), col("wedges"),
      ((col("triangles") * 3).cast("double") / col("wedges").cast("double"))
        .as("clustering"))
  }

  /** `rounds` SYNCHRONOUS label-propagation steps (Raghavan 2007) for
    * community detection: every node simultaneously adopts the most
    * frequent label among its in-neighbors, ties broken by SMALLEST
    * label — both rules total, so the result is a pure function of the
    * graph (asynchronous LPA's update order dependence is exactly what
    * an oracle can't replay). A node with no in-edges keeps its own
    * id (its seed label — it can never receive a message in any
    * round). Labels seed as node ids. Returns (node, lab) after the
    * fixed rounds; callers histogram by label for community sizes.
    *
    * Scale: per round, ONE pass of the src-partitioned checkpointed
    * edge frame into a (dst, lab) hash count (map-side partials — a
    * hub's messages collapse per label per partition upstream), then
    * an argmax-by-struct over the label counts: max(struct(cnt, −lab))
    * is associative, so no per-node label list ever materializes.
    * Node-sized frames between rounds, checkpointed. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    val e2 = Materialize.edges(edges.select(col("src"), col("dst"))
      .repartition(col("src")))
    val nodes = Materialize(e2.select(col("src").as("node"))
      .unionByName(e2.select(col("dst").as("node"))).distinct())
    // |V| is exact off the checkpointed node frame: broadcast the
    // node-sized label frame into the edge join under the count-gated
    // budget (the 10 MB estimator default flips this to a per-round
    // sort-merge over |E| a few million nodes too early), sort-merge
    // beyond — as kCore/pageRank do
    val bcastLabels = nodes.count() <= BroadcastNodeBudget
    def maybeB(v: DataFrame): DataFrame =
      if (bcastLabels) v.hint("broadcast") else v
    var labels = nodes.select(col("node"), col("node").as("lab"))
    for (_ <- 1 to rounds) {
      val cnt = e2.join(maybeB(labels).withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("cnt"))
      // argmax by (cnt, −lab): highest count, then smallest label —
      // one associative struct-max, no collect_list, no window
      val best = cnt.groupBy(col("dst"))
        .agg(max(struct(col("cnt"), (-col("lab")).as("nl"))).as("b"))
        .select(col("dst").as("node"), (-col("b.nl")).as("newlab"))
      val prev = labels
      labels = Materialize(labels.join(best, Seq("node"), "left")
        .select(col("node"), coalesce(col("newlab"), col("lab")).as("lab")))
      // round 1's prev is a Project over `nodes`, so this DOES release
      // the nodes checkpoint — intentional: nodes is dead once the first
      // eager labels checkpoint exists (don't reuse `nodes` after this)
      Materialize.release(prev)
    }
    Materialize.release(e2) // labels is a cut (or views `nodes`): edges are dead
    labels
  }

  /** Degree assortativity (Newman 2002): Pearson correlation of the
    * endpoint degrees over every DIRECTED edge (both directions of the
    * undirected (u < v) pair set, the standard convention — so the
    * marginal moments are symmetric by construction). Positive r =
    * hubs attach to hubs; negative = hub-to-leaf (typical for
    * transactional bipartite projections). Moments are exact
    * DECIMAL(38,0) integer sums (degree products fit 10³⁸ at any real
    * scale; an oracle engine's 128-bit integer sums reproduce them
    * bit-for-bit) and only the final Pearson arithmetic is double —
    * every double op is on exactly-converted integers in a fixed
    * order, so it is IEEE-identical across engines. Zero variance
    * (regular graph) nulls r rather than dividing to NaN.
    *
    * Scale: the degree frame is NODE-sized (one hash agg off the pair
    * list); attaching it to both endpoints is two broadcast joins
    * while it fits, sort-merge beyond; the moment reduction is one
    * map-side-partial aggregate. Nothing quadratic, nothing sorted. */
  def degreeAssortativity(pairsIn: DataFrame): DataFrame = {
    val pairs = Materialize.edges(pairsIn.select(col("u"), col("v")))
    val deg = Materialize(pairs.select(col("u").as("node"))
      .unionByName(pairs.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg")))
    // count-gated broadcast (r13): with both degree attaches broadcast,
    // the whole moment pass is one scan of the symmetric edge frame into
    // a map-side partial agg — no |E| exchange, no |E| sort. The 10 MB
    // estimator flipped both joins to sort-merge at sf10 (~1.6 M nodes):
    // measured 126.7 s → re-measured after this gate (PLANS.md r13).
    val nV = deg.count()
    def maybeB(v: DataFrame): DataFrame =
      if (nV <= BroadcastNodeBudget) v.hint("broadcast") else v
    val e = symmetricEdges(pairs)
    val dx = maybeB(deg.select(col("node").as("src"), col("deg").as("dx")))
    val dy = maybeB(deg.select(col("node").as("dst"), col("deg").as("dy")))
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    e.join(dx, Seq("src")).join(dy, Seq("dst"))
      .agg(
        count(lit(1)).as("m2"),
        sum(d38(col("dx"))).cast("double").as("sx"),
        sum(d38(col("dy"))).cast("double").as("sy"),
        sum(d38(col("dx")) * d38(col("dy"))).cast("double").as("sxy"),
        sum(d38(col("dx")) * d38(col("dx"))).cast("double").as("sxx"),
        sum(d38(col("dy")) * d38(col("dy"))).cast("double").as("syy"))
      .select(col("m2").as("n_edges"),
        when(col("m2") * col("sxx") - col("sx") * col("sx") <= 0d ||
             col("m2") * col("syy") - col("sy") * col("sy") <= 0d,
          lit(null).cast("double"))
          .otherwise(
            (col("m2") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("m2") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("m2") * col("syy") - col("sy") * col("sy"))))
          .as("assortativity"))
  }

  /** Per-node local clustering coefficient 2·tri(v)/(deg(v)·(deg(v)−1))
    * over an undirected simple graph given as distinct (u < v) pairs:
    * how close each node's neighborhood is to a clique — the top-K
    * nodes by (coefficient DESC, node) among nodes of degree ≥
    * `minDeg`. Rides the same [[wedgeCensus]] as [[triangleStats]]
    * (degree-ordered orientation, O(|E|^1.5) wedge bound, shared
    * fan-out budget), but the closing-edge probe keeps the wedge APEX so
    * every triangle surfaces as one (x, y, z) row and credits all
    * three corners via one exploded hash count — per-corner credit,
    * never a per-node neighborhood materialization. The final
    * coefficient is one double division of exactly-converted integers
    * (IEEE-identical across engines); (coefficient, node) is a total
    * order, so the limit is deterministic. */
  def localClustering(pairsIn: DataFrame, minDeg: Long, topK: Int,
      maxFanout: Long = Long.MaxValue): DataFrame = {
    val cen = wedgeCensus(pairsIn, maxFanout)
    // closedWedges preserves the (src, b, c) triple — oriented edges are
    // distinct, so each closed wedge row IS one triangle, exactly once.
    // Corner credit via explode(array(src, b, c)): ONE pipelined pass
    // from the closing probe straight into the map-side-partial hash
    // agg — a triangle-sized frame (414 M rows ≈ 10 GB at a 120 M-edge
    // graph) never materializes. The previous 3-way union re-scanned a
    // localCheckpoint of the triangles three times; at 100× that cache
    // was the dominant cost of this query over triangleStats.
    val triCnt = closedWedges(cen)
      .select(explode(array(col("src"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    cen.deg.filter(col("deg") >= minDeg)
      .join(triCnt, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .withColumn("lcc",
        (col("tri") * 2).cast("double") /
          (col("deg") * (col("deg") - 1)).cast("double"))
      .orderBy(col("lcc").desc, col("node")).limit(topK)
  }

  /** Resource-Allocation link prediction (Zhou/Lü/Zhang 2009) over a
    * bipartite interaction set (z, s): for every item pair (a < b),
    * cn = |shared z| and ra = Σ_z 1/deg(z) over the shared z — common
    * neighbors weighted by how DISCRIMINATIVE each shared neighbor is
    * (a z connected to everything contributes ~nothing). RA is chosen
    * over Adamic-Adar because 1/deg is rational: the weight is the
    * exact integer 10¹² div deg, so the sum is associative and
    * engine-replayable (1/ln(deg) would drift in the last ulp between
    * runtimes). The per-z self-join emits C(deg, 2) pairs — bounded by
    * the `maxDegree` cap, which drops hyper-connected z entirely (their
    * per-pair weight is negligible and their pair fan-out is the one
    * quadratic risk; same observable-cap pattern as the n-gram DF cap).
    * Returns the `topK` pairs by exact fixed-point score with a
    * (ra_fx, item_a, item_b) total order.
    *
    * CONSTRUCTION-TIME ACTIONS (r12 ADVICE): this function runs two
    * eager jobs before the returned plan ever executes — `Materialize.edges`
    * materializes the deduped adjacency, and the pair-volume gate
    * below runs one tiny aggregate over the degree frame. The second
    * cannot be deferred: the fan-out exchange's partition count is a
    * PLAN-time property (AQE re-sizes by bytes, which is exactly the
    * signal that's blind here), so it must be known when the plan is
    * built. Callers should hold the returned DataFrame instead of
    * re-calling for the same input — each call repeats both jobs. */
  def resourceAllocation(interactions: DataFrame, maxDegree: Int,
      topK: Int): DataFrame = {
    val spark = interactions.sparkSession
    val adj = Materialize.edges(interactions.select(col("z"), col("s")).distinct()
      .repartition(col("z")))
    val deg = adj.groupBy(col("z")).agg(count(lit(1)).as("deg"))
    val capped = deg.filter(col("deg") <= maxDegree)
    // Count-gated fan-out partitioning (r12; the BroadcastNodeBudget
    // pattern): the self-join's INPUT is edge-sized (~100 MB at 10 M
    // edges) but its OUTPUT is the Σ C(deg,2) pair stream plus a
    // per-task partial-agg hash table over (item_a, item_b) — both
    // invisible to AQE, which sizes (or coalesces) the z-exchange by
    // post-shuffle BYTES and so lands multi-million-pair hash tables on
    // a handful of tasks (measured 24× at 10× data, 125 M pairs over 32
    // tasks; 4× back with ~500 k pairs/task). The degree frame gives the
    // pair volume EXACTLY, so size the exchange from it: explicit
    // numPartitions also keeps AQE from re-coalescing the fan-out away.
    val pairVol = Option(capped
      .agg(expr("sum(deg * (deg - 1) div 2)")).collect()(0).get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val defaultParts = spark.sessionState.conf.numShufflePartitions
    val nParts = math.max(defaultParts,
      math.min(4096L, pairVol / 500000L + 1L).toInt)
    val w = adj.join(capped, Seq("z"))
      .select(col("z"), col("s"), expr(s"$RaFx div deg").as("wfx"))
      .repartition(nParts, col("z"))
    val a = w.select(col("z"), col("s").as("item_a"), col("wfx"))
    val b = w.select(col("z"), col("s").as("item_b"))
    a.join(b, Seq("z")).filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("cn"), sum(col("wfx")).as("ra_fx"))
      .orderBy(col("ra_fx").desc, col("item_a"), col("item_b"))
      .limit(topK)
      .select(col("item_a"), col("item_b"), col("cn"),
        (col("ra_fx").cast("double") / lit(1e12)).as("ra"))
  }

  /** Fixed-point unit for [[resourceAllocation]] weights: 1/deg in
    * 10⁻¹² units — exact under integer division, headroom for 10⁶-way
    * sums under Long.MaxValue. */
  val RaFx = 1000000000000L

  /** Node-frame broadcast budget for count-gated join hints — far above
    * the 10 MB default threshold that flips node⋈edge joins to
    * sort-merge long before broadcast stops being the right plan
    * (measured 81× at the 100× stress set). Gated on EXACT counts the
    * iterative operators already compute, never on estimator stats.
    * The hint bypasses every Spark size safeguard, so the budget is NOT
    * a fixed constant: at most 8 M keys (≈ 300 MB hashed) AND at most
    * what ~4 % of this JVM's max heap can hash at ~40 B/key — a 1 g
    * driver gets ~1 M keys, a 64 g bench host the full 8 M. */
  val BroadcastNodeBudget: Long =
    math.min(8000000L, Runtime.getRuntime.maxMemory / 25 / 40)

  /** Edge count past which [[closedWedges]] stops FORCING shuffle_hash
    * on its closing-probe semi-join and lets the planner choose (SMJ,
    * which spills). The forced hash build cannot spill, and AQE's
    * byte-based partition coalescing (64 MB advisory) re-fattens the
    * build to ~8 M rows/task over zstd-compressed long pairs no matter
    * the configured partition count — measured OOM at 1 B edges under
    * both 256 and 1024 partitions. 200 M edges keeps worst-case builds
    * ~cache-adjacent on any sane layout. */
  val ShuffleHashEdgeCap: Long = 200000000L

  /** Minimum wedge-bound / edge ratio at which [[closedWedges]] arms its
    * bloom prefilter — below it the edge-shaped filter build costs more
    * than the wedge-shaped saving (measured at the 1 B-edge circulant:
    * bloom 406 s vs plain 248 s at bound-ratio 7). */
  val WedgeEdgeRatioGate: Long = 12L

  /** Edge budget for [[closedWedges]]' broadcast bloom prefilter, sized
    * from the DRIVER heap: the filter is built distributed, but its one
    * merged copy (plus the broadcast manager's serialized blocks) lives
    * on the driver. ~9.6 bits/edge at 1 % fpp ≈ 1.2 B/edge, allowed
    * ≤ 10 % of max heap — AND ≤ `spark.driver.maxResultSize` (default
    * 1 g), because the merged filter reaches the driver as one task
    * result of [[graft.functions.BloomBuild]]'s single-reducer merge. */
  private[graft] def bloomEdgeBudget(spark: SparkSession): Long = {
    val heapEdges = (Runtime.getRuntime.maxMemory / 10 / 1.2).toLong
    val maxResult = spark.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    // maxResultSize = 0 means unlimited. 10 % margin over the raw
    // 1.2 B/edge: the collected shards carry serialization framing —
    // measured at the 1 B-edge census, an exactly-at-budget filter
    // arrived as 1045.7 MiB against the 1024 MiB limit
    val resultEdges =
      if (maxResult <= 0L) Long.MaxValue
      else (maxResult / 1.2 / 1.1).toLong
    math.min(heapEdges, resultEdges)
  }

  /** Fixed-point unit: 1.0 of rank mass = 10¹⁸ (so BIGINT holds the
    * whole graph's mass with 9× headroom under Long.MaxValue). */
  val OneFx = 1000000000000000000L

  /** Damping denominator: damping factors are exact multiples of 10⁻⁴. */
  val DampDen = 10000L

  /** Newman modularity terms of a community labeling over the
    * undirected (u < v) pair set: per community c, the exact-integer
    * ingredients (n_nodes, internal undirected edges e_c, degree mass
    * d_c) and its term (4m·e_c − d_c²)/(4m²) — Q is the sum of the
    * terms, left to the consumer so the OUTPUT carries no
    * order-dependent double accumulation (each row's term is one
    * fixed-order double from DECIMAL(38,0)-exact products; the oracle
    * converts its int128s via VARCHAR — the correctly-rounded path).
    * Internal-edge counting joins labels onto both endpoints of the
    * pair list (node-sized label frame, one co-keyed shuffle each);
    * everything else is node- or community-sized. */
  def modularity(pairsIn: DataFrame, labels: DataFrame): DataFrame =
    modularityPinned(Materialize.edges(pairsIn.select(col("u"), col("v"))), labels)

  /** [[modularity]] of the `rounds`-step [[labelPropagation]] communities
    * over the SAME pair set, sharing one checkpointed pair frame between
    * the LPA loop and the modularity pass (r15). The previous declared
    * q_modularity shape evaluated the (expensive) pair derivation TWICE —
    * once inside labelPropagation's own edge checkpoint and once inside
    * modularity's — because the two materializations are separate jobs
    * that no ReusedExchange can bridge. Here the derivation runs once;
    * LPA's src-partitioned edge frame is re-exchanged FROM the shared
    * checkpoint (a scan + shuffle, not a recompute). Output is
    * bit-identical: both operators are pure functions of the pair set
    * (LPA's argmax and modularity's aggregates are partitioning-
    * independent), pinned by the unchanged oracle. */
  def modularityOfLabelProp(pairsIn: DataFrame, rounds: Int): DataFrame = {
    val pairs = Materialize.edges(pairsIn.select(col("u"), col("v")))
    modularityPinned(pairs, labelPropagation(symmetricEdges(pairs), rounds))
  }

  private def modularityPinned(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val la = labels.select(col("node").as("u"), col("lab").as("lu"))
    val lb = labels.select(col("node").as("v"), col("lab").as("lv"))
    val internal = pairs.join(la, "u").join(lb, "v")
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("label")).agg(count(lit(1)).as("e_in"))
    val deg = pairs.select(col("u").as("node"))
      .unionByName(pairs.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val dc = labels.join(deg, "node")
      .groupBy(col("lab").as("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_sum"))
    val mRow = pairs.agg(count(lit(1)).as("m"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    dc.join(internal, Seq("label"), "left")
      .crossJoin(broadcast(mRow)) // single-row scalar attach
      .select(col("label"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("internal_edges"), col("d_sum"),
        ((dec(lit(4)) * dec(col("m")) * dec(coalesce(col("e_in"), lit(0L)))
          - dec(col("d_sum")) * dec(col("d_sum"))).cast("double")
          / (dec(lit(4)) * dec(col("m")) * dec(col("m"))).cast("double"))
          .as("modularity_term"))
  }
}
