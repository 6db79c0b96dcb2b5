package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ingest
import graft.sources.Tables

/** Bucket co-location: a fact-fact join over two tables bucketed on the
  * join key with equal bucket counts must plan with ZERO exchanges — the
  * at-scale answer to the lineitem⋈orders shuffle. */
class BucketedJoinSpec extends AnyFunSuite with SparkSpec {

  test("join of co-bucketed tables plans without any Exchange") {
    val dir = Files.createTempDirectory("graft_bucketed_").toString
    Ingest.writeBucketed(Tables.lineitem(spark, sf0001),
      "li_b", s"$dir/li", "l_orderkey", 8)
    Ingest.writeBucketed(
      Tables.orders(spark, sf0001).withColumnRenamed("o_orderkey", "l_orderkey"),
      "ord_b", s"$dir/ord", "l_orderkey", 8)

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_b").join(spark.table("ord_b"), Seq("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      val n = joined.count()
      assert(n > 0)
      val plan = joined.queryExecution.executedPlan.toString
      val joinExchanges = plan.split("\n")
        .filter(_.contains("Exchange hashpartitioning(l_orderkey"))
      assert(joinExchanges.isEmpty,
        s"join should be shuffle-free over co-bucketed tables:\n$plan")
      // cross-check: same join over plain parquet DOES shuffle on the key
      val plainPlan = Tables.lineitem(spark, sf0001)
        .join(Tables.orders(spark, sf0001),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)))
        .queryExecution.executedPlan.toString
      assert(plainPlan.contains("Exchange hashpartitioning"),
        "control: non-bucketed join should shuffle")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    import graft.model.DataPoint
    import spark.implicits._
    val store = Files.createTempDirectory("graft_dpp_").toString
    // 48 hour-partitions of points
    val pts = (0 until 48 * 100).map(i =>
      DataPoint((i / 100) * 3600000L + (i % 100) * 1000L, i.toDouble))
    Ingest.writeStore(pts.toDF(), store)
    val fact = spark.read.parquet(store)
    // dim carrying a NON-partition attribute the query filters on; only 2
    // of 48 hours survive the filter, so DPP should skip 46 partitions
    val dimPath = Files.createTempDirectory("graft_dpp_dim_").toString
    (0 until 48).map(h => (h.toLong, if (h < 2) "keep" else "drop"))
      .toDF("shard_hour", "tag").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("tag") === "keep")
    val prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    try {
      // toy-sized tables have no meaningful stats: use the fallback-ratio
      // benefit estimate so the DPP rule fires the way it would at scale
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      val joined = fact.join(dim, Seq("shard_hour"))
        .agg(count(lit(1)).as("n"))
      assert(joined.head().getLong(0) == 200L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"expected a dynamic partition pruning subquery in:\n$plan")
    } finally
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", prev)
  }
}
