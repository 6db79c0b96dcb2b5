package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Scale-safety behavior of the dedup operators: the shingle DF cap (hot
  * boilerplate shingles must not produce a quadratic in-bucket expansion),
  * the simhash maxHamming guard, and multi-round convergence of the
  * distributed connected-components loop on a deep chain graph.
  */
class DedupScaleSpec extends AnyFunSuite with SparkSpec {

  /** 10 distinct docs all sharing one boilerplate shingle, plus one exact
    * near-dup pair that also shares it. n=3 shingles per doc:
    * the boilerplate trigram has df=12; all other shingles are unique to
    * their doc (or to the near-dup pair). */
  private def hotShingleCorpus = {
    import spark.implicits._
    val uniques = (1 to 10).map(i => (i.toLong, s"w${i}a w${i}b w${i}c copyright acme corp"))
    val nearDups = Seq((100L, "alpha beta gamma delta copyright acme corp"),
                       (101L, "alpha beta gamma delta copyright acme corp"))
    (uniques ++ nearDups).toDF("doc_id", "text")
  }

  test("DF cap drops hot boilerplate shingles: only genuine near-dups pair up") {
    val capped = Dedup.ngramJaccardPairs(hotShingleCorpus, n = 3,
      minJaccard = 0.1, maxDocFreq = 5L)
    val rows = capped.collect()
    // the boilerplate-only pairs (every doc shares "copyright acme corp")
    // are gone; the one genuine near-dup pair survives with jaccard 1.0
    // over its capped shingle universe
    assert(rows.length == 1, rows.mkString(", "))
    assert(rows.head.getAs[Long]("doc_id_1") == 100L)
    assert(rows.head.getAs[Long]("doc_id_2") == 101L)
    assert(math.abs(rows.head.getAs[Double]("jaccard") - 1.0) < 1e-12)
    // the cap reports what it dropped via the named query observation
    val metric = capped.queryExecution.observedMetrics(Dedup.NgramDfCapMetric)
    assert(metric.getAs[Long]("dropped_shingles") == 1L)
  }

  test("uncapped (default cap), the boilerplate shingle links every doc pair") {
    val pairs = Dedup.ngramJaccardPairs(hotShingleCorpus, n = 3, minJaccard = 0.1)
    // 12 docs all share one shingle: C(12,2) = 66 pairs meet jaccard >= 1/9
    // (4+ shingles per side, 1 common), plus nothing extra — the near-dup
    // pair is one of the 66
    assert(pairs.count() == 66L)
  }

  test("cap larger than corpus df is a no-op vs default on real data") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val a = Dedup.ngramJaccardPairs(docs, 3, 0.3)
    val b = Dedup.ngramJaccardPairs(docs, 3, 0.3, maxDocFreq = 1000000L,
      dfCapMetricName = "graft_ngram_df_cap_b")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("prefixJaccardPairs: bit-identical to brute force (real corpus and " +
      "hot-boilerplate corpus), prefix filter is lossless") {
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf0001)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id_1", "doc_id_2", "n_common", "jaccard")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    // brute force = ngramJaccardPairs with the df cap disabled (cap far
    // beyond the corpus leaves the pair space untouched)
    val brute = canon(Dedup.ngramJaccardPairs(docs, n = 3,
      minJaccard = 0.3, maxDocFreq = 1000000L))
    val pref = canon(Dedup.prefixJaccardPairs(docs, n = 3, 3, 10))
    assert(pref.nonEmpty && pref.toSeq == brute.toSeq)
    // hot-shingle corpus at t = 3/10: boilerplate-only pairs score
    // 1/7 < 0.3 and are rejected in the exact verify; the exact dup pair
    // survives at J = 1 — same answer brute force gives. (Prefix pruning
    // only engages on LARGE sets — ⌈t/(1+t)·|x|⌉ > 1 — which is exactly
    // where the quadratic bucket expansion needs it; tiny sets take the
    // verify path, bounded by their own size.)
    val hot = canon(Dedup.prefixJaccardPairs(hotShingleCorpus, n = 3, 3, 10))
    val hotBrute = canon(Dedup.ngramJaccardPairs(hotShingleCorpus, n = 3,
      minJaccard = 0.3, maxDocFreq = 1000000L))
    assert(hot.toSeq == hotBrute.toSeq)
    assert(hot.map(t => (t._1, t._2)).toSeq == Seq((100L, 101L)), hot.toSeq)
    assert(hot.head._4 == 1.0)
  }

  test("r15 prefixJaccardPairs agg+slice form ≡ pre-r15 windowed form " +
      "(real corpus and hot-boilerplate corpus)") {
    import graft.sources.Tables
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getAs[Long]("doc_id_1"), r.getAs[Long]("doc_id_2"),
        r.getAs[Long]("n_common"), r.getAs[Double]("jaccard")))
      .sortBy(t => (t._1, t._2)).toSeq
    val docs = Tables.documents(spark, sf0001)
    assert(canon(Dedup.prefixJaccardPairs(docs, 3, 3, 10)) ==
      canon(ReferenceForms.prefixJaccardPairsWindowed(docs, 3, 3, 10)))
    assert(canon(Dedup.prefixJaccardPairs(hotShingleCorpus, 3, 3, 10)) ==
      canon(ReferenceForms.prefixJaccardPairsWindowed(hotShingleCorpus, 3, 3, 10)))
  }

  test("minhashEstimatorEval: one row per LSH candidate, estimator in " +
      "[0,1] with exact integer numerator, identical docs estimate 1.0") {
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf0001)
    val eval = Dedup.minhashEstimatorEval(docs, 3)
    val rows = eval.collect()
    val cand = Dedup.lshCandidates(Dedup.minhashSignatures(docs, 3)).count()
    assert(rows.length.toLong == cand && cand > 0)
    rows.foreach { r =>
      val (m, est, j) = (r.getAs[Long]("n_match"),
        r.getAs[Double]("est_jaccard"), r.getAs[Double]("jaccard"))
      assert(m >= 0 && m <= Dedup.MinHashK)
      assert(est == m.toDouble / Dedup.MinHashK)
      assert(j >= 0.0 && j <= 1.0)
      assert(r.getAs[Double]("abs_err") == math.abs(est - j))
    }
    // planted exact duplicates: signatures identical -> est exactly 1.0
    import spark.implicits._
    val dup = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val d = Dedup.minhashEstimatorEval(dup, 3).collect()
    assert(d.length == 1 && d.head.getAs[Double]("est_jaccard") == 1.0 &&
      d.head.getAs[Double]("jaccard") == 1.0)
  }

  test("simhashNearDupPairs rejects maxHamming outside [0, 60)") {
    val docs = hotShingleCorpus
    assertThrows[IllegalArgumentException](Dedup.simhashNearDupPairs(docs, -1))
    assertThrows[IllegalArgumentException](Dedup.simhashNearDupPairs(docs, 60))
  }

  test("ngramJaccardPairs rejects maxDocFreq < 2") {
    assertThrows[IllegalArgumentException](
      Dedup.ngramJaccardPairs(hotShingleCorpus, 3, 0.1, maxDocFreq = 1L))
  }

  test("editDistancePairs verifies simhash candidates with exact Levenshtein") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base.replace("w7", "q7")),          // one substitution, same shape
      (3L, (1 to 40).map(i => s"z$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, maxHamming = 8, maxDist = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 2L, 1L)),
      s"expected only the near-identical pair, got ${got.toSeq}")
  }

  test("r14 editDistancePairs attach gate: broadcast path and shuffled " +
      "fallback emit identical rows; the gated plan broadcasts, the " +
      "corpus attach does not ride a corpus shuffle") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val gated = Dedup.editDistancePairsGated(docs, 8, 6,
      gate = Dedup.EditAttachBroadcastGate)
    val fallback = Dedup.editDistancePairsGated(docs, 8, 6, gate = -1L)
    assert(gated.exceptAll(fallback).count() == 0 &&
      fallback.exceptAll(gated).count() == 0,
      "gate branches must be row-identical")
    // the gated static plan carries the explicit broadcasts (hint-driven,
    // not estimator-driven — the sf10 cliff this gate closes)
    val bhj = gated.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.size >= 2,
      s"expected broadcast semi + broadcast attach, got ${bhj.size}")
  }

  test("edit-distance gate under a Spark checkpoint directory " +
      "emits the same rows as the localCheckpoint default") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val local = Dedup.editDistancePairs(docs, 8, 6).collect().toSet
    org.apache.spark.CheckpointDirProbe.withDir(spark.sparkContext) { _ =>
      val reliable = Dedup.editDistancePairs(docs, 8, 6).collect().toSet
      assert(reliable == local, "reliable and local checkpoint paths diverged")
    }
  }

  test("bloomContaminatedDocs: identical answer to the exact semi-join, " +
      "prefilter visible in the plan, empty eval finds nothing") {
    import spark.implicits._
    val train = (1 to 30).map(i => (i.toLong,
      if (i % 5 == 0) "the quick brown fox jumps high"
      else s"t${i}a t${i}b t${i}c t${i}d")).toDF("doc_id", "text")
    val eval = Seq((900L, "quick brown fox jumps over it")).toDF("doc_id", "text")
    val bloom = Dedup.bloomContaminatedDocs(train, eval, n = 4,
      expectedShingles = 1000L)
    val exact = Dedup.contaminatedDocs(train, eval, n = 4)
    assert(bloom.collect().map(_.getLong(0)).sorted.toSeq ==
      exact.collect().map(_.getLong(0)).sorted.toSeq)
    assert(bloom.collect().map(_.getLong(0)).sorted.toSeq ==
      (5 to 30 by 5).map(_.toLong))
    assert(bloom.queryExecution.executedPlan.toString.contains("might_contain"),
      "the bloom predicate must sit in the physical plan")
    val none = Dedup.bloomContaminatedDocs(train,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), n = 4,
      expectedShingles = 1000L)
    assert(none.count() == 0)
  }

  test("canonicalDocs keeps the longest member per cluster, id tiebreak") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "cluster_id")
    val docs = Seq((1L, 50L), (2L, 80L), (3L, 80L), (7L, 5L), (8L, 5L))
      .toDF("doc_id", "n_chars")
    val got = Dedup.canonicalDocs(clusters, docs).orderBy("cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 3L, 2L, 80L, 2L),   // 80-char tie: doc 2 < doc 3
      (7L, 2L, 7L, 5L, 1L)))
  }

  test("distributed CC converges on a 40-deep chain (multi-round pointer jumping)") {
    import spark.implicits._
    // path graph 1-2-3-...-40: diameter 39 forces several label-propagation
    // rounds; pointer jumping must still reach the unique min-label fixpoint
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("doc_id_1", "doc_id_2")
    val labels = Dedup.dedupClusters(chain, driverMaxEdges = -1L).collect()
    assert(labels.length == 40)
    assert(labels.forall(_.getAs[Long]("cluster_id") == 1L),
      labels.sortBy(_.getAs[Long]("doc_id")).mkString(", "))
  }
}
