package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.BloomBuild

/** Pins the defect that motivated [[graft.functions.BloomBuild]] and the
  * builder's own contract. Since Spark 3.5 `stat.bloomFilter` runs on
  * `BloomFilterAggregate`, which silently CLAMPS the sketch to the
  * runtime-filter ceilings (4 M items / 2^26 bits = 8 MB): past ~7 M
  * distinct items at 1 % fpp the clamped filter saturates while
  * reporting success — at 80 M edges it measured expectedFpp 0.99999,
  * i.e. a filter that passes everything, which silently disabled every
  * budget-sized prefilter in this engine at exactly the scales they
  * were built for. If a Spark upgrade ever lifts the clamp, the first
  * test fails and BloomBuild can be retired. */
class BloomBuildSpec extends AnyFunSuite with SparkSpec {
  private val n = 8L * 1000 * 1000 // needs ~76.7 Mbits at 1% — past the 2^26 clamp

  test("stat.bloomFilter clamps to the 8 MB runtime-filter ceiling (the bug)") {
    val df = spark.range(n).select(col("id").as("h"))
    val clamped = df.stat.bloomFilter("h", n, 0.01)
    assert(clamped.bitSize() == (1L << 26),
      s"clamp lifted? bitSize=${clamped.bitSize()} — BloomBuild may be retirable")
    // the clamped filter is already measurably worse than requested
    assert(clamped.expectedFpp() > 0.02)
  }

  test("BloomBuild allocates the requested size and holds the requested fpp") {
    val df = spark.range(n).select(col("id").as("h"))
    val bf = BloomBuild.overLongColumn(df, "h", n, 0.01)
    assert(bf.totalBits > (1L << 26), s"totalBits=${bf.totalBits} still clamped")
    assert(bf.expectedFpp < 0.012, s"expectedFpp=${bf.expectedFpp}")
    // no false negatives, ever
    var i = 0L
    while (i < n) { assert(bf.mightContainLong(i)); i += 997 * 1000 }
    // measured fpp on 100k non-members tracks the requested 1%
    var fp = 0; i = 0
    while (i < 100000) { if (bf.mightContainLong(n + 1 + i * 7919)) fp += 1; i += 1 }
    assert(fp < 2000, s"measured fpp ${fp / 100000.0} far above requested 0.01")
  }

  test("BloomBuild on an empty frame returns an empty filter, not an NPE") {
    val empty = spark.range(10).select(col("id").as("h")).filter(lit(false))
    val bf = BloomBuild.overLongColumn(empty, "h", 100, 0.01)
    assert(!bf.mightContainLong(42L))
  }

  test("negative hashes route correctly at the default shard count") {
    // mix of negative and positive longs exercises the pmod routing on
    // both build and probe sides
    val df = spark.range(100000)
      .select((col("id") * -7919 + 13).as("h"))
    val bf = BloomBuild.overLongColumn(df, "h", 100000, 0.01)
    assert(bf.shards.length ==
      math.min(64, math.max(8, spark.sparkContext.defaultParallelism)))
    (0L until 100000L by 777).foreach(v =>
      assert(bf.mightContainLong(v * -7919 + 13)))
  }
}
