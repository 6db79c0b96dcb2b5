package graft

import org.apache.spark.sql.SparkSession

/** Dev-only isolated per-query probe: `Probe <sfDir> <reps> <q1,q2,…>`.
  * Runs each named [[SparkEntry.queries]] entry `reps` times in a fresh
  * warmed session and prints median/min/max — the only trustworthy
  * per-query signal on this throttling-prone host (round-5 evidence:
  * identical code measured 12× apart in back-to-back bench runs). */
object Probe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, repsS, names) = args
    val reps = repsS.toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // A/B knob for partition-count experiments (defaults to cores, the
    // Bench convention): SPARK_GRAFT_SHUFFLE_PARTITIONS=256
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // same A/B knob as Bench: byte-targeted AQE coalescing
    if (sys.env.get("SPARK_GRAFT_COALESCE").contains("bytes")) {
      b.config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32m")
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    try graft.sources.Tables.events(spark, sfDir).count()
    catch { case _: Throwable => () }
    // dev pseudo-queries for pipeline-stage attribution
    val extras: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "_pr_edges" -> ((s, dir) => graft.operators.Graph.customerSupplierEdges(
        graft.sources.Tables.orders(s, dir), graft.sources.Tables.lineitem(s, dir))),
      "_pr_iter0" -> ((s, dir) => graft.operators.Graph.pageRank(
        graft.operators.Graph.customerSupplierEdges(
          graft.sources.Tables.orders(s, dir), graft.sources.Tables.lineitem(s, dir)),
        iters = 0, damping = 0.85)),
      "_pr_iter1" -> ((s, dir) => graft.operators.Graph.pageRank(
        graft.operators.Graph.customerSupplierEdges(
          graft.sources.Tables.orders(s, dir), graft.sources.Tables.lineitem(s, dir)),
        iters = 1, damping = 0.85)),
      "_pr_iter2" -> ((s, dir) => graft.operators.Graph.pageRank(
        graft.operators.Graph.customerSupplierEdges(
          graft.sources.Tables.orders(s, dir), graft.sources.Tables.lineitem(s, dir)),
        iters = 2, damping = 0.85)),
      // r8 watch item: the co-purchase DISTINCT's hash-agg maps outgrow
      // L2 at sf10 (DRAM-latency knee). _dd_hash = the product path;
      // _dd_sort = sort-within-partition + dedup-consecutive (sequential
      // access, no giant map) — if it wins at sf10 the build flips
      // q_map_funcs dissection (r9 verdict: the only trending growth
      // number; at sf1 it runs 15x its own regex cost — q_token_count
      // 0.12 s vs q_map_funcs 1.80 s — so the suspect is the
      // map+explode structure, not the regexes). Variants isolate:
      // map build alone, generate alone (stack), and posexplode.
      "_mf_maponly" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        graft.functions.TextAnalysis.tokenCount(graft.sources.Tables.documents(s, dir))
          .select(col("doc_id"), map(
            lit("alpha"), col("n_alpha"), lit("num"), col("n_num"),
            lit("sym"), col("n_sym")).as("m"))
          .select(col("doc_id"), size(map_keys(col("m"))).as("n"))
      }),
      "_mf_stack" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        graft.functions.TextAnalysis.tokenCount(graft.sources.Tables.documents(s, dir))
          .select(col("doc_id"), expr(
            "stack(3, 'alpha', n_alpha, 'num', n_num, 'sym', n_sym) as (token_class, n)"))
      }),
      "_mf_arrayexplode" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        graft.functions.TextAnalysis.tokenCount(graft.sources.Tables.documents(s, dir))
          .select(col("doc_id"), explode(array(
            struct(lit("alpha").as("token_class"), col("n_alpha").as("n")),
            struct(lit("num").as("token_class"), col("n_num").as("n")),
            struct(lit("sym").as("token_class"), col("n_sym").as("n")))).as("kv"))
          .select(col("doc_id"), col("kv.token_class"), col("kv.n"))
      }),
      // inverse experiment: force token_count's projection to actually
      // evaluate under .count() (a bare Project is pruned by Catalyst's
      // count-star rewrite, so q_token_count's bench number measures
      // scan+count only — the generator variants are the ones paying
      // the regex cost)
      "_mf_token_forced" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        graft.functions.TextAnalysis.tokenCount(graft.sources.Tables.documents(s, dir))
          .agg(sum(col("n_alpha") + col("n_num") + col("n_sym")).as("n"))
      }),
      // regexp_count never materializes the match array regexp_extract_all
      // builds just to take size() of
      "_mf_regexcount" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        graft.sources.Tables.documents(s, dir).select(
          col("doc_id"),
          explode(map(
            lit("alpha"), regexp_count(col("text"), lit("[a-z]+")).cast("long"),
            lit("num"), regexp_count(col("text"), lit("[0-9]+")).cast("long"),
            lit("sym"), regexp_count(col("text"), lit("[^a-z0-9 ]")).cast("long"))))
          .toDF("doc_id", "token_class", "n")
      }),
      // generate with CONSTANT values: isolates the Generate operator
      // cost from the regex child entirely
      "_mf_generate_const" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        graft.sources.Tables.documents(s, dir).select(
          col("doc_id"),
          explode(map(lit("alpha"), lit(1L), lit("num"), lit(2L),
            lit("sym"), lit(3L))))
          .toDF("doc_id", "token_class", "n")
      }),
      // stage-split variant: a repartition between the regex project and
      // the explode puts them in SEPARATE codegen methods — if this is
      // fast while the fused form is slow, the fused whole-stage method
      // blew HotSpot's DontCompileHugeMethods bytecode limit and the
      // regex loop ran INTERPRETED
      "_mf_split" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        graft.functions.TextAnalysis.tokenCount(graft.sources.Tables.documents(s, dir))
          .repartition(32)
          .select(col("doc_id"),
            explode(map(
              lit("alpha"), col("n_alpha"), lit("num"), col("n_num"),
              lit("sym"), col("n_sym"))))
          .toDF("doc_id", "token_class", "n")
      }),
      // same stage-1 as _mf_split (regex project + shuffle) but an agg
      // consumer: isolates whether stage 1 or the explode stage is slow
      "_mf_split_agg" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        graft.functions.TextAnalysis.tokenCount(graft.sources.Tables.documents(s, dir))
          .repartition(32)
          .agg(sum(col("n_alpha") + col("n_num") + col("n_sym")).as("n"))
      }),
      // explode whose VALUES are the regex counts via sum-agg first:
      "_mf_agg_then_explode" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        graft.functions.TextAnalysis.tokenCount(graft.sources.Tables.documents(s, dir))
          .groupBy(col("doc_id"))
          .agg(max(col("n_alpha")).as("n_alpha"), max(col("n_num")).as("n_num"),
            max(col("n_sym")).as("n_sym"))
          .select(col("doc_id"),
            explode(map(
              lit("alpha"), col("n_alpha"), lit("num"), col("n_num"),
              lit("sym"), col("n_sym"))))
          .toDF("doc_id", "token_class", "n")
      }),
      // explode(map) whose values are a plain parquet column — no regex
      // anywhere: separates "explode of non-constant values" from
      // "regex-derived values"
      "_mf_colmap" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        graft.sources.Tables.documents(s, dir).select(
          col("doc_id"),
          explode(map(lit("alpha"), col("n_chars"),
            lit("num"), col("n_chars") + 1,
            lit("sym"), col("n_chars") + 2)))
          .toDF("doc_id", "token_class", "n")
      }),
      // iteration-count attribution for the Lloyd refinement (r14 #6):
      // iters=1 runs zero refinement steps (seed + final agg only), so
      // (itersN − iters1)/(N−1) isolates the per-step cost
      "_ivf_iters1" -> ((s, dir) =>
        graft.operators.Similarity.ivfRefinedCentroidRows(
          graft.sources.Tables.embeddings(s, dir), 8, 1)),
      "_ivf_iters3" -> ((s, dir) =>
        graft.operators.Similarity.ivfRefinedCentroidRows(
          graft.sources.Tables.embeddings(s, dir), 8, 3)),
      // r15 A/B twin: the PRE-r15 q_modularity shape (pair derivation
      // materialized twice — once in LPA's edge checkpoint, once in
      // modularity's) against the shared-checkpoint declared form
      "_modularity_unshared" -> ((s, dir) => {
        val pairs = graft.operators.Graph.partCoPurchasePairs(
          graft.sources.Tables.lineitem(s, dir))
        graft.operators.Graph.modularity(pairs,
          graft.operators.Graph.labelPropagation(
            graft.operators.Graph.symmetricEdges(pairs), rounds = 2))
      }),
      // r15 A/B twin: q_jaccard_prefix with the PRE-r15 window-ranked
      // prefix derivation (vs the declared agg+slice form)
      "_jp_window" -> ((s, dir) =>
        graft.operators.Dedup.prefixJaccardPairsWindowed(
          graft.sources.Tables.documents(s, dir), 3, 3, 10)),
      // r15 skew census for q_minhash_lsh (r14 verdict #4): the LSH
      // band-bucket population histogram — max/p99 bucket size and the
      // pair volume the top bucket alone contributes. A hot bucket's
      // C(k,2) expansion lands on ONE task in the candidate join.
      "_lsh_bucket_hist" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        val sigs = graft.operators.Dedup.minhashSignatures(
          graft.sources.Tables.documents(s, dir), 3)
        val bands = sigs.select(col("doc_id"),
          posexplode(array((0 until graft.operators.Dedup.MinHashK / 2).map(b =>
            col("sig")(2 * b) * lit(graft.functions.TextAnalysis.P) +
              col("sig")(2 * b + 1)): _*)))
          .toDF("doc_id", "band", "bucket")
        bands.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("k"))
          .agg(count(lit(1)).as("n_buckets"), max(col("k")).as("max_k"),
            expr("percentile_approx(k, 0.99)").as("p99_k"),
            sum(expr("k * (k - 1) div 2")).as("total_pairs"),
            max(expr("k * (k - 1) div 2")).as("top_bucket_pairs"))
      }),
      "_dd_hash" -> ((s, dir) =>
        graft.operators.Graph.partCoPurchasePairs(
          graft.sources.Tables.lineitem(s, dir))),
      // r15 A/B twins: the pre-r15 self-join forms of the co-purchase
      // derivations (the declared operators now generate pairs in-row
      // from one hash aggregate; _dd_hash above follows the operator)
      "_pp_join" -> ((s, dir) =>
        graft.operators.Graph.partCoPurchasePairsJoined(
          graft.sources.Tables.lineitem(s, dir))),
      "_pw_agg" -> ((s, dir) =>
        graft.operators.Graph.coPurchaseWeights(
          graft.sources.Tables.lineitem(s, dir))),
      "_pw_join" -> ((s, dir) =>
        graft.operators.Graph.coPurchaseWeightsJoined(
          graft.sources.Tables.lineitem(s, dir))),
      // full-query r15 A/B twin: q_degree_dist over the joined pair form
      "_degree_dist_joined" -> ((s, dir) =>
        graft.operators.Graph.degreeDistribution(
          graft.operators.Graph.partCoPurchasePairsJoined(
            graft.sources.Tables.lineitem(s, dir)))),
      "_dd_sort" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        val li = graft.sources.Tables.lineitem(s, dir)
        val a = li.select(col("l_orderkey").as("k"), col("l_partkey").as("u"))
        val b = li.select(col("l_orderkey").as("k"), col("l_partkey").as("v"))
        val pairs = a.join(b, Seq("k")).filter(col("u") < col("v"))
          .select(col("u"), col("v"))
        import s.implicits._
        pairs.repartition(col("u"), col("v"))
          .sortWithinPartitions(col("u"), col("v"))
          .as[(Long, Long)]
          .mapPartitions { it =>
            var last: (Long, Long) = null
            it.filter { p =>
              val fresh = last == null || p != last
              last = p
              fresh
            }
          }.toDF("u", "v")
      }))
    // "__order__" prints the bench Map-iteration order and exits — used to
    // reproduce bench-context anomalies (a query can measure 5× slower in
    // the bench than isolated purely from what ran before it).
    if (names == "__order__") {
      SparkEntry.queries.keys.zipWithIndex.foreach { case (k, i) =>
        println(s"ORDER $i $k")
      }
      spark.stop(); return
    }
    names.split(',').foreach { name =>
      val fn = SparkEntry.query(name, extras)
      var rows = -1L
      val times = (0 until reps).map { _ =>
        // release only the rep's OWN leftovers (snapshot/delta, same
        // discipline as Bench) — reps share nothing, and pinned
        // leftovers at sf10 OOM the session before rep 2
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val t0 = System.nanoTime()
        // toRdd.count(): honest full-column evaluation, same as Bench
        // (Dataset.count() would let Catalyst prune bare projections)
        rows = fn(spark, sfDir).queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) =>
            if (!before.contains(id)) rdd.unpersist(blocking = false) }
        dt
      }.sorted
      println(f"PROBE $name%-24s median=${times(times.size / 2)}%.3f " +
        f"min=${times.head}%.3f max=${times.last}%.3f reps=$reps rows=$rows")
      // tiny pseudo-query results (censuses, histograms) print their
      // rows — outside every timer, dev-only diagnostics
      if (name.startsWith("_") && rows >= 0 && rows <= 10)
        fn(spark, sfDir).collect()
          .foreach(r => println(s"PROBEROW $name $r"))
    }
    spark.stop()
  }
}
