package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Design (builder brief "similarity search"):
  *  - brute-force cosine top-k against one query vector is the exact
  *    baseline: broadcast the single query row, one narrow map over the
  *    corpus, TakeOrderedAndProject for the top-k — no shuffle of the
  *    corpus at any scale;
  *  - near-dup pair search is pre-bucketed (here by `label`; the general
  *    scale path is LSH bucketing, see [[randomHyperplaneBuckets]]) so the
  *    quadratic pair space only materializes within buckets;
  *  - all dot products fold left-to-right in double precision
  *    (`aggregate` over `zip_with`), which DuckDB's `list_reduce` mirrors
  *    exactly → bit-identical similarity values, so even threshold/top-k
  *    selections agree across engines.
  */
object Similarity {

  /** Sequential left-to-right dot product of two double-array columns —
    * a native codegen'd expression ([[graft.functions.DotProduct]]); same
    * fold order as `aggregate(zip_with(...))` and DuckDB's `list_reduce`,
    * so values are bit-identical, just compiled instead of interpreted. */
  def dot(a: Column, b: Column): Column = graft.functions.GraftFunctions.dot_product(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** cos(a,b) = dot/(√dot(a,a)·√dot(b,b)), all in fixed evaluation order —
    * the FUSED native expression ([[graft.functions.CosineSimilarity]]):
    * one array traversal instead of three, bit-identical accumulation. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine_similarity(a, b)

  /** Exact brute-force cosine top-k of the corpus against the embedding of
    * `queryVecId` (the query row itself scores 1.0 and is included). The
    * query norm is computed once on the broadcast side, not per corpus row;
    * the value is bit-identical (same fold over the same vector). */
  def cosineTopK(embeddings: DataFrame, queryVecId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryVecId)
      .select(asDouble(col("embedding")).as("qv"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
    embeddings
      .crossJoin(broadcast(q))
      .select(
        col("vec_id"), col("label"),
        (dot(asDouble(col("embedding")), col("qv")) /
          (sqrt(dot(asDouble(col("embedding")), asDouble(col("embedding")))) * col("qn")))
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Near-duplicate pairs within a bucket column (exact cosine > threshold,
    * pairs only formed inside buckets → quadratic blowup is bounded by the
    * largest bucket, not the corpus). */
  def nearDupPairs(embeddings: DataFrame, bucketCol: String, threshold: Double): DataFrame = {
    // norms once per vector (before the pair join), not once per pair —
    // same double value (identical fold), 3× less arithmetic in the O(pairs)
    // stage and the join payload carries a precomputed scalar
    val e = embeddings.select(
      col("vec_id"), col(bucketCol).as("bucket"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    e.as("a")
      .join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_id_1"),
        col("b.vec_id").as("vec_id_2"),
        col("a.bucket").as("bucket"),
        (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("sim"))
      .filter(col("sim") > threshold)
  }

  /** Random-hyperplane LSH bucket id (the ANN scale path): `planes` sign
    * bits of deterministic pseudo-random hyperplanes, packed into a long.
    * Plane weights derive from md5(plane,dim) → integer in [-1000, 1000],
    * so bucket assignment is reproducible everywhere. */
  /** Deterministic pseudo-random plane weight: md5 of "plane_dim" → 60-bit
    * int → [-1000, 1000]. Computed ONCE in Scala and shipped as literals —
    * the per-row hot path is a plain dot product, no hashing. */
  def planeWeight(plane: Int, dim: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${plane}_$dim".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    (java.lang.Long.parseLong(hex, 16) % 2001L - 1000L).toDouble
  }

  def randomHyperplaneBuckets(embeddings: DataFrame, planes: Int, dims: Int = 64): DataFrame = {
    val v = asDouble(col("embedding"))
    val bucketBits: Seq[Column] = (0 until planes).map { p =>
      val w = array((0 until dims).map(d => lit(planeWeight(p, d))): _*)
      val proj = dot(v, w)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(0L)
    }
    embeddings.select(
      col("vec_id"), col("label"),
      bucketBits.reduce(_ + _).as("ann_bucket"))
  }

  /** IVF (inverted-file) ANN — the second scale path beside LSH bucketing.
    *
    * Index: every vector is assigned to its most-cosine-similar centroid.
    * Centroids here are deterministic seed vectors (the embeddings of the
    * `nCentroids` smallest vec_ids — medoid-style init); at 100 TB they'd be
    * trained offline with k-means|| and broadcast the same way. The
    * centroids are collected once (nCentroids × dims doubles — trivially
    * driver-sized) and inlined as LITERAL arrays, so assignment is a pure
    * whole-stage-codegen projection with ZERO shuffle: the only exchange in
    * the whole query is the final top-k (TakeOrderedAndProject).
    *
    * Search: score the query against the centroids (same left-fold
    * arithmetic, driver-side), keep the `nProbe` best clusters, and run the
    * exact cosine top-k over only those clusters' vectors — recall is traded
    * against touching ~nProbe/nCentroids of the corpus.
    *
    * Ties everywhere break toward the smaller centroid id (strictly-greater
    * comparison / first-position argmax), mirrored in the DuckDB oracle. */
  /** Identical sequential left fold as the engine's DotProduct expression —
    * same IEEE op sequence, so driver-side scores match engine-side ones. */
  private def dotl(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }
  private def cosl(a: Array[Double], b: Array[Double]): Double =
    dotl(a, b) / (math.sqrt(dotl(a, a)) * math.sqrt(dotl(b, b)))

  /** Seed-medoid centroids: the embeddings of the `nCentroids` smallest
    * vec_ids. Deterministic and SQL-reproducible (the oracle path). */
  def ivfSeedCentroids(embeddings: DataFrame, nCentroids: Int): Array[(Long, Array[Double])] =
    embeddings
      .filter(col("vec_id") < nCentroids)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** Cluster-id column: cosine argmax against literal centroids, mapped from
    * array index back to centroid id (first-position argmax = smallest
    * centroid id on ties, 1-based `array_position`). Pure codegen'd
    * projection — ZERO shuffle. */
  def clusterIdCol(cents: Array[(Long, Array[Double])]): Column = {
    val v = asDouble(col("embedding"))
    // centroid-side norms are literal subtrees — Catalyst constant-folds
    // them, and subexpression elimination shares sqrt(dot(v,v)) across the
    // nCentroids similarity slots
    val simArr = array(cents.map { case (_, w) => cosine(v, typedLit(w.toSeq)) }: _*)
    val centIds = typedLit(cents.map(_._1).toSeq)
    element_at(centIds, array_position(simArr, array_max(simArr)).cast("int"))
  }

  /** Lloyd refinement: `iters` deterministic k-means steps over the seed
    * centroids. Assignment is the same zero-shuffle literal-centroid argmax
    * as the search path; the new centroid is the per-dimension MEAN of its
    * members, accumulated in FIXED-POINT 2⁻⁴⁰ units as BIGINT so the
    * result is partition-order-independent (double addition is not
    * associative — a plain double sum would make centroids
    * nondeterministic across runs/cluster layouts; long addition is
    * exact). The quantization itself is ROUNDING-FREE: coord·2⁴⁰ only
    * shifts the double's exponent (exact — no rounding-rule choice for
    * any engine to disagree on), and truncation toward zero is identical
    * everywhere; the mean then divides by the exact power 2⁴⁰ and by n,
    * both IEEE-identical across engines. Capacity: 2⁶³/2⁴⁰ ≈ 8.4M units
    * of coordinate mass per (cluster, dim) — |coord| ≤ 1 corpora are
    * safe to ~8M members per cluster; beyond that, widen to decimal.
    * Cosine ignores magnitude, so the un-normalized mean is a valid
    * spherical-k-means centroid. Empty clusters keep their previous
    * centroid. Per iteration: one corpus pass + one (cid, dim) shuffle of
    * |corpus|·dims tiny rows — training cost, not query cost; at 100 TB the
    * documented path is offline k-means|| with the same broadcast-literal
    * serving shape. */
  def ivfRefinedCentroids(embeddings: DataFrame, nCentroids: Int,
      iters: Int): Array[(Long, Array[Double])] = {
    var cents = ivfSeedCentroids(embeddings, nCentroids)
    val dims = cents.headOption.map(_._2.length).getOrElse(0)
    for (_ <- 0 until iters) {
      // one hash aggregation with `dims` long sum slots — the same shape
      // that made simhash fast: map-side partials collapse to ONE row per
      // cluster, so the shuffle moves |clusters| rows of (dims) longs
      // (the earlier posexplode formulation shuffled dims × |corpus| rows —
      // the wrong shape at corpus scale). r14: the corpus is deliberately
      // NOT cached — every step (and [[ivfRefinedCentroidRows]]'s final
      // pass) then shares ONE plan shape (parquet scan → project → agg),
      // so the `dims`-slot aggregate codegen-compiles ONCE per session
      // (centroid literals ride the codegen references array, not the
      // generated source) instead of once per distinct input shape, and
      // no cache materialization cost is paid. At training scale caching
      // a corpus-sized frame is wrong anyway (guide §5: execution memory
      // pressure); the 100 TB path stays offline k-means||.
      val rows = embeddings
        .select(clusterIdCol(cents).as("cid"), asDouble(col("embedding")).as("v"))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n"), fxSums(dims): _*)
        .collect()
      val means = rows.map { r =>
        val n = r.getAs[Long]("n")
        // exact long sums of 2^-40 units; /2^40 (exact power) then /n —
        // the identical IEEE op pair any replaying engine computes
        r.getAs[Long]("cid") -> (0 until dims).map(d =>
          r.getAs[Long](s"s$d") / SimFxD / n).toArray
      }.toMap
      cents = cents.map { case (cid, w) => (cid, means.getOrElse(cid, w)) }
    }
    cents
  }

  /** IVF search against a given centroid set: probe the `nProbe` most
    * query-similar clusters, exact cosine top-k inside them. */
  private def ivfSearch(embeddings: DataFrame, cents: Array[(Long, Array[Double])],
      queryVecId: Long, nProbe: Int, k: Int): DataFrame = {
    val qv: Array[Double] = embeddings.filter(col("vec_id") === queryVecId)
      .select(asDouble(col("embedding"))).collect().head.getSeq[Double](0).toArray
    val probed: Seq[Long] = cents
      .map { case (cid, w) => (cid, cosl(qv, w)) }
      .sortBy { case (cid, s) => (-s, cid) }
      .take(nProbe).map(_._1).toSeq
    embeddings
      .withColumn("ivf_cluster", clusterIdCol(cents))
      .filter(col("ivf_cluster").isin(probed: _*))
      .select(col("vec_id"), col("label"), col("ivf_cluster"),
        cosine(asDouble(col("embedding")), typedLit(qv.toSeq)).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  def ivfAnnTopK(embeddings: DataFrame, queryVecId: Long,
      nCentroids: Int, nProbe: Int, k: Int): DataFrame =
    ivfSearch(embeddings, ivfSeedCentroids(embeddings, nCentroids),
      queryVecId, nProbe, k)

  /** IVF top-k over Lloyd-refined centroids — better cluster balance than
    * the raw seed medoids (asserted in `SimilarityRefinedSpec`), same
    * zero-shuffle serving plan. The search composition stays spec-gated
    * (recall/balance/objective specs); the refinement STATE itself is
    * SQL-oracled via [[ivfRefinedCentroidRows]]. */
  def ivfAnnTopKRefined(embeddings: DataFrame, queryVecId: Long,
      nCentroids: Int, nProbe: Int, k: Int, iters: Int = 2): DataFrame =
    ivfSearch(embeddings, ivfRefinedCentroids(embeddings, nCentroids, iters),
      queryVecId, nProbe, k)

  /** The final Lloyd state as FLAT oracle-comparable rows
    * (cid, n, dim, sum_fx): runs `iters − 1` refinement steps, then
    * emits the LAST step's per-cluster member count and per-dimension
    * fixed-point 2⁻⁴⁰ coordinate sums as one distributed aggregation
    * (dims long slots, map-side partials — the simhash shape). Emitting
    * the integer SUMS, not the means, is what makes this
    * bit-reproducible in SQL: the whole compared output is exact long
    * addition over a rounding-free quantization (see
    * [[ivfRefinedCentroids]]), so no engine's decimal-cast or rounding
    * rules enter anywhere. Clusters with no members after the last
    * assignment emit no rows (their kept-seed centroids never aggregate
    * members). `dim` is 1-based to match SQL array indexing. */
  def ivfRefinedCentroidRows(embeddings: DataFrame, nCentroids: Int,
      iters: Int): DataFrame = {
    val cents = ivfRefinedCentroids(embeddings, nCentroids, iters - 1)
    val dims = cents.headOption.map(_._2.length).getOrElse(0)
    embeddings
      .select(clusterIdCol(cents).as("cid"), asDouble(col("embedding")).as("v"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), fxSums(dims): _*)
      .select(col("cid"), col("n"),
        posexplode(array((0 until dims).map(d => col(s"s$d")): _*)))
      .select(col("cid"), col("n"), (col("pos") + 1).cast("long").as("dim"),
        col("col").as("sum_fx"))
  }

  /** 2⁻⁴⁰ fixed-point unit for Lloyd coordinate sums: the scale-up is an
    * exact exponent shift and 2⁴⁰ divides back out exactly. */
  val SimFx = 1L << 40
  private val SimFxD = SimFx.toDouble

  /** Per-dimension fixed-point sum slots: trunc-toward-zero of
    * coord·2⁴⁰ (CAST double→BIGINT truncates; DuckDB replays with
    * trunc()), summed as plain longs. */
  private def fxSums(dims: Int) = (0 until dims).map(d =>
    sum(expr(s"CAST(element_at(v, ${d + 1}) * ${SimFx}D AS BIGINT)"))
      .as(s"s$d"))

  /** Batch exact top-k: the top `k` corpus vectors for EACH of several query
    * vectors in ONE corpus pass. The query rows are broadcast (the caller
    * bounds the batch to driver size); every corpus row is scored against
    * all Q queries in a codegen'd projection, then a per-query ranking
    * window keeps the top k. Cost: one scan + Q·N similarity evaluations +
    * a shuffle of the scored rows keyed on query_id — for very large Q,
    * chunk the batch so each window shuffle stays balanced. */
  /** Reciprocal-rank fusion (RRF, Cormack & Clarke 2009) of retrieval
    * rankings: score(d) = Σ_lists 1/(K + rank_list(d)) — the standard
    * rank-only late fusion for hybrid search (e.g. exact dense top-k +
    * ANN bucket top-k, or dense + lexical). The reciprocal is carried as
    * the EXACT integer `10^12 div (K + rank)`: engine-neutral (no double
    * division) and associative under summation, so the fused order is a
    * pure function of the input rankings.
    *
    * Scale: inputs are k-BOUNDED ranked lists (vec_id, label, sim) — the
    * rank re-derivation (row_number over sim DESC, vec_id) runs a
    * single-partition window over ≤ k rows, never corpus-sized; the
    * fusion group-by moves ≤ Σk rows. The expensive part of hybrid
    * search stays in the upstream retrievals.
    * Output: top `topK` of (vec_id, label, rrf_fp, n_lists, best_rank). */
  def rrfFusion(rankings: Seq[DataFrame], kConst: Int, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("sim").desc, col("vec_id"))
    rankings
      .map(_.select(col("vec_id"), col("label"),
        row_number().over(w).cast("long").as("rank")))
      .reduce(_.unionByName(_))
      .groupBy(col("vec_id"), col("label"))
      .agg(
        sum(graft.model.floorDivCol(lit(1000000000000L),
          lit(kConst.toLong) + col("rank"))).as("rrf_fp"),
        count(lit(1)).as("n_lists"),
        min(col("rank")).as("best_rank"))
      .orderBy(col("rrf_fp").desc, col("vec_id"))
      .limit(topK)
  }

  def cosineTopKBatch(embeddings: DataFrame, queryVecIds: Seq[Long],
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = embeddings.filter(col("vec_id").isin(queryVecIds: _*))
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))
    embeddings
      .crossJoin(broadcast(q))
      .select(col("query_id"), col("vec_id"), col("label"),
        cosine(asDouble(col("embedding")), col("qv")).as("sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Per-label embedding centroids as FLAT rows (label, n, dim, value) —
    * the vector-aggregation shape (class prototypes, cluster summaries,
    * nearest-class-mean classification); `dim` is 1-based to match SQL
    * array indexing.
    *
    * Determinism: per-dimension means use the SALTED TWO-LEVEL sorted
    * double fold (per (label, dim, vec_id % 64) partials folded in vec_id
    * order, then the ≤64 partials folded in salt order — a fixed
    * association tree the oracle replays). Decimal sum slots are NOT
    * usable here: the
    * inputs are arbitrary doubles, and double→decimal(38,12) casts round
    * by different rules across engines (Spark renders the shortest-repr
    * string; DuckDB expands the exact binary), so decimal sums diverge in
    * the last digit. A fixed fold tree over pure IEEE ops is engine-exact
    * AND bounds every aggregation buffer to in-group/64 elements.
    *
    * Scale: the posexplode is a dims× row blowup of narrow rows, then two
    * keyed aggregations with map-side partials — no unbounded state. */
  def labelCentroidRows(embeddings: DataFrame, dims: Int = 64): DataFrame = {
    def fold(vals: Column): Column =
      aggregate(vals, lit(0d), (acc, x) => acc + x)
    val partial = embeddings
      .select(col("label"), col("vec_id"), posexplode(asDouble(col("embedding"))))
      .select(col("label"), col("vec_id"),
        (col("pos") + 1).cast("int").as("dim"), col("col").as("x"))
      .withColumn("salt", pmod(col("vec_id"), lit(64L)))
      .groupBy(col("label"), col("dim"), col("salt"))
      .agg(count(lit(1)).as("cnt"),
        fold(transform(
          sort_array(collect_list(struct(col("vec_id"), col("x")))),
          p => p.getField("x"))).as("psum"))
    partial
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("cnt")).as("n"),
        fold(transform(
          sort_array(collect_list(struct(col("salt"), col("psum")))),
          p => p.getField("psum"))).as("ssum"))
      .select(col("label"), col("n"), col("dim"),
        (col("ssum") / col("n")).as("value"))
  }

  /** Embedding L2-norm audit — the sanity gate an ANN pipeline runs
    * before indexing (cosine retrieval silently degrades when vectors
    * aren't unit-norm). Each row's ‖x‖² is the deterministic
    * left-to-right fold (same evaluation order as [[dot]], mirrored by
    * DuckDB's `list_reduce`), entirely row-local — no cross-row float
    * summation exists; the summary aggregates the DECIMAL(18,9)-cast
    * norm (the one mirrored quantization) per label: n, out-of-unit
    * count at ±`tol`, min/max/mean norm. One scan, |labels| rows. */
  def embeddingNormAudit(embeddings: DataFrame,
      tol: Double = 1e-3): DataFrame = {
    // the codegen'd native DotProduct (same left-to-right fold order as
    // the interpreted aggregate/zip_with — bit-parity spec'd), so the
    // norm runs inside whole-stage codegen
    val v = asDouble(col("embedding"))
    val norm2 = dot(v, v)
    embeddings
      .select(col("label"), sqrt(norm2).as("norm"))
      .select(col("label"), col("norm").cast("decimal(18,9)").as("nq"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("nq") - 1) > tol, 1L).otherwise(0L))
          .as("n_nonunit"),
        min(col("nq")).cast("double").as("min_norm"),
        max(col("nq")).cast("double").as("max_norm"),
        (sum(col("nq")).cast("decimal(38,9)").cast("double") /
          count(lit(1)).cast("double")).as("mean_norm"))
  }

  /** Product-quantization codebooks: `m` subspaces × `kCent` centroids,
    * the subvectors of the `kCent` smallest vec_ids (seed-medoid —
    * deterministic and SQL-reproducible, same convention as the IVF seed
    * path; production trains per-subspace k-means offline and serves with
    * the identical literal shape). Returns [subspace][centroid][dim]. */
  def pqCodebooks(embeddings: DataFrame, m: Int,
      kCent: Int): Array[Array[Array[Double]]] = {
    val seeds = embeddings.filter(col("vec_id") < kCent)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .collect().sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
    val dims = seeds.headOption.map(_.length).getOrElse(0)
    require(seeds.length == kCent, s"need vec_ids 0..${kCent - 1} as seeds")
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val sub = dims / m
    Array.tabulate(m)(mi => seeds.map(_.slice(mi * sub, (mi + 1) * sub)))
  }

  /** PQ-ADC approximate top-k with exact re-ranking — the
    * compression-side ANN family (vs the partition-side IVF): each vector
    * is encoded as `m` small codes (argmax inner product against its
    * subspace codebook), the query precomputes one `m × kCent` lookup
    * table of subspace dot products, and the approximate score of any
    * vector is m table lookups + (m-1) adds — asymmetric distance
    * computation. The top `rerank` candidates by ADC are re-scored with
    * exact cosine.
    *
    * Scale shape: encoding AND scoring are pure codegen'd projections
    * over literal codebooks/LUTs (zero shuffle, zero joins); the two
    * top-k's are TakeOrderedAndProject. At 100 TB the codes (m bytes per
    * vector vs 4·dims) are what you'd MATERIALIZE as the stored index —
    * the scan then touches m-byte codes instead of 256-byte vectors. */
  def pqAnnTopK(embeddings: DataFrame, queryVecId: Long, m: Int,
      kCent: Int, rerank: Int, k: Int): DataFrame = {
    val cbs = pqCodebooks(embeddings, m, kCent)
    val sub = cbs(0)(0).length
    val qv: Array[Double] = embeddings.filter(col("vec_id") === queryVecId)
      .select(asDouble(col("embedding"))).collect().head.getSeq[Double](0).toArray
    val v = asDouble(col("embedding"))
    // per-subspace code: 1-based first-position argmax of subvector·centroid
    val codeCols: Seq[Column] = (0 until m).map { mi =>
      val sv = slice(v, mi * sub + 1, sub)
      val sims = array(cbs(mi).map(c => dot(sv, typedLit(c.toSeq))): _*)
      array_position(sims, array_max(sims)).cast("int")
    }
    // query-side LUT: dot(query subvector, centroid) for every code — the
    // one-off cost that makes per-vector scoring O(m)
    val luts: Seq[Seq[Double]] = (0 until m).map { mi =>
      cbs(mi).map(c => dotl(qv.slice(mi * sub, (mi + 1) * sub), c)).toSeq
    }
    val adc = (0 until m)
      .map(mi => element_at(typedLit(luts(mi)), codeCols(mi)))
      .reduce(_ + _)
    embeddings
      .select(col("vec_id"), col("label"), v.as("v"), adc.as("adc"))
      .orderBy(col("adc").desc, col("vec_id")).limit(rerank)
      .select(col("vec_id"), col("label"), col("adc"),
        cosine(col("v"), typedLit(qv.toSeq)).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(k)
  }

  /** Approximate top-k: restrict the exact cosine scan to the query's LSH
    * bucket. Trades recall for touching only ~corpus/2^planes rows. */
  def annTopK(embeddings: DataFrame, queryVecId: Long, planes: Int, k: Int): DataFrame = {
    val bucketed = randomHyperplaneBuckets(embeddings, planes)
      .join(embeddings, Seq("vec_id", "label"))
    val q = bucketed.filter(col("vec_id") === queryVecId)
      .select(col("ann_bucket").as("q_bucket"), asDouble(col("embedding")).as("qv"))
    bucketed
      .crossJoin(broadcast(q))
      .filter(col("ann_bucket") === col("q_bucket"))
      .select(col("vec_id"), col("label"),
        cosine(asDouble(col("embedding")), col("qv")).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Index-quality evaluation: recall@k of the hyperplane-LSH ANN path
    * ([[annTopK]]) against the exact dense top-k ([[cosineTopKBatch]]) for
    * a batch of query vectors — the measurement a pipeline runs before
    * trusting an approximate index at scale.
    * `recall = |exact ∩ ann| / n_exact` per query, where `n_exact` is the
    * exact result count (= k except when the corpus holds fewer than k
    * vectors, where dividing by k would understate recall); both
    * retrievals are the library's own (deterministic) operators, so the
    * whole evaluation is engine-exact.
    *
    * Scale: each retrieval is k-bounded, so the join/aggregate below is
    * O(|queries|·k) regardless of corpus size; the corpus-sized work is
    * the retrievals themselves (one codegen'd cosine scan each). */
  def annRecall(embeddings: DataFrame, queryVecIds: Seq[Long], planes: Int,
      k: Int): DataFrame = {
    val exact = cosineTopKBatch(embeddings, queryVecIds, k)
      .select(col("query_id"), col("vec_id"))
    val ann = queryVecIds
      .map(id => annTopK(embeddings, id, planes, k)
        .select(lit(id).as("query_id"), col("vec_id")))
      .reduce(_ unionByName _)
    val hits = exact.join(ann, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall",
        col("n_hits").cast("double") / col("n_exact").cast("double"))
  }
}
