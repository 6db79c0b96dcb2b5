package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.model.DataPoint
import graft.operators.{Ingest, Snapshot}

/** Mirrors the reference's own test datasets (FIXTURES.md §A):
  * A1 = engine/test_engine.cpp:28-66 (5 points across 3 hour-shards, four
  * assertion groups), A2 = tests/test_api.py:42-57 (inclusive bounds).
  * Exercises the full ingest→store→prune→scan→limit lifecycle.
  */
class ReferenceFidelitySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def freshStore(points: Seq[DataPoint]): String = {
    val dir = Files.createTempDirectory("graft_store_").toString
    Snapshot.ingestCommitted(points.toDS(), dir)
    dir
  }

  private val a1 = Seq(
    DataPoint(1000L, 10.0), DataPoint(2000L, 20.0),
    DataPoint(3600000L, 30.0), DataPoint(4000000L, 40.0),
    DataPoint(8000000L, 50.0))

  test("A1: single-shard range [0, 3000] returns the 2 points in order") {
    val store = freshStore(a1)
    val got = Ingest.queryRange(spark, store, 0L, 3000L)
      .select("timestamp", "value").as[(Long, Double)].collect()
    assert(got.toSeq == Seq((1000L, 10.0), (2000L, 20.0)))
  }

  test("A1: shard-boundary span [1500, 3700000] returns exactly {2000, 3600000}") {
    val store = freshStore(a1)
    val got = Ingest.queryRange(spark, store, 1500L, 3700000L)
      .select("timestamp").as[Long].collect()
    assert(got.toSeq == Seq(2000L, 3600000L))
  }

  test("A1: full range [0, 9000000] returns all 5; empty range returns 0") {
    val store = freshStore(a1)
    assert(Ingest.queryRange(spark, store, 0L, 9000000L).count() == 5)
    assert(Ingest.queryRange(spark, store, 12000000L, 13000000L).count() == 0)
  }

  test("A1: store is hour-partitioned (shard_hour directories exist)") {
    val store = freshStore(a1)
    val shardDirs = new java.io.File(store).listFiles()
      .filter(_.getName.startsWith("shard_hour=")).map(_.getName).sorted
    assert(shardDirs.toSeq == Seq("shard_hour=0", "shard_hour=1", "shard_hour=2"))
  }

  test("A2: inclusive bounds — query [100, 250] over 4 points returns first 3") {
    val store = freshStore(Seq(
      DataPoint(100L, 10.0), DataPoint(150L, 15.0),
      DataPoint(200L, 20.0), DataPoint(300L, 30.0)))
    val got = Ingest.queryRange(spark, store, 100L, 250L)
      .select("timestamp", "value").as[(Long, Double)].collect()
    assert(got.toSeq == Seq((100L, 10.0), (150L, 15.0), (200L, 20.0)))
  }

  test("append after initial write is readable (no codec-state replay needed)") {
    val store = freshStore(a1)
    Snapshot.ingestCommitted(Seq(DataPoint(2500L, 25.0)).toDS(), store)
    val got = Ingest.queryRange(spark, store, 0L, 3000L).select("timestamp").as[Long].collect()
    assert(got.toSeq == Seq(1000L, 2000L, 2500L))
  }

  test("CSV source/sink round-trip preserves the point stream") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_csv_").toString
    val pts = a1.toDS().toDF()
    pts.write.mode("overwrite").option("header", "true").csv(dir)
    val schema = StructType(Seq(
      StructField("timestamp", LongType), StructField("value", DoubleType),
      StructField("metric", StringType)))
    val back = spark.read.schema(schema).option("header", "true").csv(dir)
    assert(back.count() == a1.size)
    assert(back.exceptAll(pts).count() == 0 && pts.exceptAll(back).count() == 0)
  }

  test("limit cap truncates deterministically in timestamp order") {
    val pts = (0 until 200).map(i => DataPoint(i * 1000L, i.toDouble))
    val store = freshStore(pts)
    val got = Ingest.queryRange(spark, store, 0L, 1000000000L, cap = 50)
      .select("timestamp").as[Long].collect()
    assert(got.toSeq == (0 until 50).map(_ * 1000L))
  }
}
