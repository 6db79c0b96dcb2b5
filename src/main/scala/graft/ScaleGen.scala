package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only scale-up generator:
  * `ScaleGen <srcSfDir> <outDir> <copies> [disjoint|densify|skew]`.
  *
  * Three orthogonal growth axes:
  *  - `disjoint` (default, the volume axis): bucket-DISJOINT key-shifted
  *    copies — more buckets, same per-bucket occupancy (documented below);
  *  - `densify` (the density axis): same key space, k x occupancy — hot
  *    users, hub-heavy graph tails, true near-dup doc/embedding cliques
  *    (documented at the branch);
  *  - `skew` (the hot-KEY axis): k x rows whose extra mass lands on ONE
  *    key per table — the single-mega-key Zipf limit that AQE skew-join
  *    splitting exists for (documented at the branch).
  *
  * Writes an N-times larger copy of a testdata sf dir for scale probes
  * (the driver only materializes up to sf0.1). Method = N key-shifted
  * copies of the scale-variant tables with FKs realigned per copy, dims
  * left at one copy so broadcast sizes stay realistic:
  *
  *  - events: event_id/user_id shifted per copy, ts unshifted (N x density
  *    per hour — same windows, more rows per window);
  *  - orders/lineitem/customer/part/supplier: every TPC-H key
  *    (orderkey, custkey, partkey, suppkey) shifted per copy and the
  *    dims replicated with matching shifts — TPC-H itself grows part/
  *    supplier/customer linearly with SF, and disjoint key spaces keep
  *    the co-purchase graph N disjoint copies (scale-OUT, not
  *    densification — graph work then scales exactly N x, the shape the
  *    10x/100x growth probes need). nation/region stay fixed (25/5 at
  *    every TPC-H SF), so c_nationkey/s_nationkey are unshifted;
  *  - documents: doc_id shifted AND the text passed through a per-copy
  *    alphabet-rotation cipher (`translate`). Round 6's plain duplication
  *    made every doc a 10-twin near-dup, so pair counts grew
  *    quadratically in the copy factor — a data artifact, not a plan
  *    property. The cipher keeps length/token structure identical but
  *    makes shingles disjoint across copies, so near-dup density per doc
  *    stays flat while corpus size scales: the honest neardup-stress
  *    shape.
  *  - embeddings: vec_id shifted, vector elements ROTATED by copy index
  *    (norm-preserving, cosine between rotations is ~random) so ANN/
  *    near-dup candidate density also stays flat.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val (src, out, copiesS, mode) = args match {
      case Array(a, b, c)    => (a, b, c, "disjoint")
      case Array(a, b, c, m) => (a, b, c, m)
    }
    val copies = copiesS.toInt
    val spark = GraftSession.local(GraftSession.cpus, "scalegen")
    spark.sparkContext.setLogLevel("ERROR")

    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    // per-copy AFFINE cipher i -> a*i + b (mod 26), a coprime to 26:
    // 12 x 26 = 312 distinct letter permutations, so copies stay
    // shingle-disjoint up to x312 (a plain rotation repeats at 26 and
    // would reintroduce near-dup twins in a 100-copy stress set)
    val coprimes = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    def affine(s: String, k: Int): String = {
      val a = coprimes((k / 26) % coprimes.size)
      val b = k % 26
      s.indices.map(i => s((a * i + b) % 26)).mkString
    }

    // one unioned frame per table: copy k gets its keys shifted by
    // k * 10^9 (far above any real key) and its content perturbed
    def scaled(t: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = graft.sources.Tables.load(spark, src, t)
      val all = (0 until copies).map(k => f(base, k)).reduce(_ unionAll _)
      all.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"SCALEGEN $t x$copies -> $out")
    }
    val shift = 1000000000L

    if (mode == "densify") {
      // DENSITY axis: same key space, k x occupancy. The disjoint mode
      // grows bucket COUNT (embarrassingly parallel — it cannot expose
      // in-bucket quadratic blowup); this mode makes the buckets that
      // pair-forming operators group by k x HOTTER instead:
      //  - events: user_id / ts untouched -> every user series and every
      //    hour bucket holds k x the rows (hot-series stress);
      //  - lineitem: part/supp keys rotate by the copy index inside the
      //    FIXED dim key space -> co-purchase degrees grow ~k x, wedge
      //    counts ~k^2 (hub-heavy organic growth, not disjoint islands);
      //  - documents: copy k appends one trailing token -> every base doc
      //    becomes a (k+1)-clique of true near-dups (LSH buckets k x
      //    hotter, candidate pairs ~k^2 — the shape that breaks banded
      //    LSH when real corpora re-crawl the same pages);
      //  - embeddings: one-dimension epsilon bump (cosine ~ 1) -> ANN /
      //    embedding-near-dup buckets k x hotter;
      //  - row-identity keys (event_id, orderkey, doc_id, vec_id) still
      //    shift so rows stay distinct and exact-dedup doesn't collapse
      //    the density back out.
      // TPC-H keys are 1-based (1..max): rotate WITHIN that domain.
      // (A 0-based pmod over max+1 maps key max+1-k of copy k to the
      // nonexistent key 0 — dangling FKs that silently drop rows from
      // dim-join probes — and never emits key k.)
      val pMax = graft.sources.Tables.load(spark, src, "part")
        .agg(max(col("p_partkey"))).head.getLong(0)
      val sMax = graft.sources.Tables.load(spark, src, "supplier")
        .agg(max(col("s_suppkey"))).head.getLong(0)
      scaled("events") { (df, k) =>
        df.withColumn("event_id", col("event_id") + lit(k * shift))
      }
      scaled("orders") { (df, k) =>
        df.withColumn("o_orderkey", col("o_orderkey") + lit(k * shift))
      }
      scaled("lineitem") { (df, k) =>
        df.withColumn("l_orderkey", col("l_orderkey") + lit(k * shift))
          .withColumn("l_partkey", pmod(col("l_partkey") - 1 + lit(k.toLong), lit(pMax)) + 1)
          .withColumn("l_suppkey", pmod(col("l_suppkey") - 1 + lit(k.toLong), lit(sMax)) + 1)
      }
      scaled("documents") { (df, k) =>
        val txt = if (k == 0) col("text") else concat(col("text"), lit(s" dup$k"))
        df.withColumn("doc_id", col("doc_id") + lit(k * shift))
          .withColumn("text", txt)
      }
      scaled("embeddings") { (df, k) =>
        val emb =
          if (k == 0) col("embedding")
          else {
            val dim = (k - 1) % 64
            val eps = lit(0.001f * ((k - 1) / 64 + 1))
            zip_with(col("embedding"),
              sequence(lit(0), lit(63)),
              (e, i) => when(i === dim, e + eps).otherwise(e))
          }
        df.withColumn("vec_id", col("vec_id") + lit(k * shift))
          .withColumn("embedding", emb)
      }
      Seq("customer", "part", "supplier", "nation", "region").foreach { t =>
        graft.sources.Tables.load(spark, src, t)
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
        println(s"SCALEGEN $t x1 -> $out (densify: fixed key space)")
      }
      spark.stop()
      return
    }

    if (mode == "skew") {
      // SKEW axis: k x rows with the EXTRA mass concentrated on single
      // hot keys — the Zipf-alpha->inf limit (one mega-key), the
      // harshest version of the hot-key shape AQE skew handling exists
      // for. Volume (disjoint) grows bucket count, density grows every
      // bucket uniformly; this mode grows ONE bucket:
      //  - events: copies k>=1 reassign user_id to the single hot user
      //    -> at x10 that user holds ~90% of all events (window
      //    partitions and user-joins get one mega-partition);
      //  - orders: copies reassign o_custkey to the hot customer
      //    (customer-side join/groupBy skew, orderkey stays balanced);
      //  - lineitem: copies set l_suppkey to the hot supplier on EVERY
      //    row (q21-shaped supplier join skew) and l_partkey to the hot
      //    part on line 1 of each order, rotating the rest within the
      //    1-based dim domain — so every copied order contains the hot
      //    part plus rotated parts and the co-purchase graph grows one
      //    mega-hub instead of disjoint islands;
      //  - documents: copies give 1-in-100 docs one shared hot TEXT (a
      //    single mega near-dup clique growing ~(k N/100)^2 candidate
      //    pairs inside one LSH bucket) and affine-cipher the rest
      //    (corpus grows, background near-dup density stays flat);
      //  - embeddings: copies give 1-in-100 vectors one shared hot
      //    vector (one mega ANN bucket), rotating the rest;
      //  - dims stay at one copy: the hot FKs must land on EXISTING dim
      //    keys, and broadcast sizes stay realistic.
      val hotUser = graft.sources.Tables.load(spark, src, "events")
        .agg(min(col("user_id"))).head.getLong(0)
      val hotCust = graft.sources.Tables.load(spark, src, "customer")
        .agg(min(col("c_custkey"))).head.getLong(0)
      val hotSupp = graft.sources.Tables.load(spark, src, "supplier")
        .agg(min(col("s_suppkey"))).head.getLong(0)
      val pKeys = graft.sources.Tables.load(spark, src, "part")
        .agg(min(col("p_partkey")), max(col("p_partkey"))).head
      val (hotPart, pMax) = (pKeys.getLong(0), pKeys.getLong(1))
      scaled("events") { (df, k) =>
        val u = if (k == 0) col("user_id") else lit(hotUser)
        df.withColumn("event_id", col("event_id") + lit(k * shift))
          .withColumn("user_id", u)
      }
      scaled("orders") { (df, k) =>
        val c = if (k == 0) col("o_custkey") else lit(hotCust)
        df.withColumn("o_orderkey", col("o_orderkey") + lit(k * shift))
          .withColumn("o_custkey", c)
      }
      scaled("lineitem") { (df, k) =>
        val p =
          if (k == 0) col("l_partkey")
          else when(col("l_linenumber") === 1, lit(hotPart))
            .otherwise(pmod(col("l_partkey") - 1 + lit(k.toLong), lit(pMax)) + 1)
        val s = if (k == 0) col("l_suppkey") else lit(hotSupp)
        df.withColumn("l_orderkey", col("l_orderkey") + lit(k * shift))
          .withColumn("l_partkey", p)
          .withColumn("l_suppkey", s)
      }
      val hotText = ("the quick brown fox jumps over the lazy dog and " +
        "then runs 42 laps around the block before 9 pm, every day!") * 4
      scaled("documents") { (df, k) =>
        val ciphered = translate(col("text"), lower + upper,
          affine(lower, k) + affine(upper, k))
        val txt =
          if (k == 0) col("text")
          else when(col("doc_id") % 100 === 0, lit(hotText)).otherwise(ciphered)
        df.withColumn("doc_id", col("doc_id") + lit(k * shift))
          .withColumn("text", txt)
      }
      scaled("embeddings") { (df, k) =>
        val rotated = if (k == 0) col("embedding") else {
          val r = k % 64
          concat(slice(col("embedding"), r + 1, 64 - r),
            slice(col("embedding"), 1, r))
        }
        val hotVec = array((0 until 64).map(_ => lit(0.125f)): _*)
        val emb =
          if (k == 0) col("embedding")
          else when(col("vec_id") % 100 === 0, hotVec).otherwise(rotated)
        df.withColumn("vec_id", col("vec_id") + lit(k * shift))
          .withColumn("embedding", emb)
      }
      Seq("customer", "part", "supplier", "nation", "region").foreach { t =>
        graft.sources.Tables.load(spark, src, t)
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
        println(s"SCALEGEN $t x1 -> $out (skew: fixed key space)")
      }
      spark.stop()
      return
    }

    scaled("events") { (df, k) =>
      df.withColumn("event_id", col("event_id") + lit(k * shift))
        .withColumn("user_id", col("user_id") + lit(k * shift))
    }
    scaled("orders") { (df, k) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(k * shift))
        .withColumn("o_custkey", col("o_custkey") + lit(k * shift))
    }
    scaled("lineitem") { (df, k) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(k * shift))
        .withColumn("l_partkey", col("l_partkey") + lit(k * shift))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * shift))
    }
    scaled("customer") { (df, k) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(k * shift))
    }
    scaled("part") { (df, k) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(k * shift))
    }
    scaled("supplier") { (df, k) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(k * shift))
    }
    scaled("documents") { (df, k) =>
      df.withColumn("doc_id", col("doc_id") + lit(k * shift))
        .withColumn("text",
          translate(col("text"), lower + upper,
            affine(lower, k) + affine(upper, k)))
    }
    scaled("embeddings") { (df, k) =>
      val dims = 64 // testdata embedding width
      val rot = k % dims
      val rotated =
        if (rot == 0) col("embedding")
        else concat(slice(col("embedding"), rot + 1, dims - rot),
          slice(col("embedding"), 1, rot))
      // negate alternate rotation cycles: 128 distinct norm-preserving
      // variants (rotation alone repeats at 64 — twins at a 100-copy set)
      val variant =
        if ((k / dims) % 2 == 0) rotated
        else transform(rotated, e => -e)
      // label is a copy-LOCAL class id: shift it by the SAME stride as
      // every other key so copies are bucket-disjoint at any base label
      // cardinality (unshifted labels made label-bucketed pair queries
      // quadratic in the copy count — an artifact of the generator, not
      // of the operator under test)
      df.withColumn("vec_id", col("vec_id") + lit(k * shift))
        .withColumn("label", col("label") + lit(k * shift))
        .withColumn("embedding", variant)
    }
    // fixed dims: single copy, verbatim (25/5 rows at every TPC-H SF)
    Seq("nation", "region").foreach { t =>
      graft.sources.Tables.load(spark, src, t)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"SCALEGEN $t x1 -> $out")
    }
    spark.stop()
  }
}
