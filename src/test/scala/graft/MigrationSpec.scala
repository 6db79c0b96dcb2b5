package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.DataPoint
import graft.operators.{Ingest, Snapshot}
import graft.sources.gorilla.GorillaShardSource

/** The switch-over story end-to-end: a user of the reference engine points
  * this library at their existing `.bin` shard store, migrates it into the
  * hour-partitioned parquet store with one statement, and every range query
  * answers identically before, during, and after — plus the reverse
  * direction, so stores stay interoperable both ways. */
class MigrationSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val fmt = classOf[GorillaShardSource].getName

  private val pts = (0 until 5000).map(i =>
    DataPoint(1000L + i * 2500L, 50.0 + 20.0 * math.sin(i / 100.0)))

  test("bin store -> parquet store migration answers range queries identically") {
    val binStore = Files.createTempDirectory("graft_mig_bin_").toString
    val pqStore = Files.createTempDirectory("graft_mig_pq_").toString
    // the reference's own on-disk layout, written by the reverse-migration
    // writer (end-inclusive shard names the reference engine reconstructs)
    graft.sources.gorilla.GorillaShardWriter.writeShards(pts.toDS(), binStore)

    // ONE statement migrates: DSv2 read of the .bin shards -> typed points
    // -> one committed ingest into the hour-partitioned snapshot store
    val binPoints = spark.read.format(fmt).load(binStore)
      .select(col("timestamp"), col("value"), lit("default").as("metric"))
      .as[DataPoint]
    Snapshot.ingestCommitted(binPoints, pqStore)

    // the same inclusive range queries answer identically from both stores
    val ranges = Seq((0L, 20000000L), (1000L, 1000L), (3600000L, 7200000L),
      (0L, Long.MaxValue / 2))
    ranges.foreach { case (s, e) =>
      val fromBin = spark.read.format(fmt).load(binStore)
        .filter(col("timestamp").between(s, e))
        .orderBy("timestamp").collect().map(r => (r.getLong(0), r.getDouble(1)))
      val fromPq = Ingest.queryRange(spark, pqStore, s, e, Int.MaxValue)
        .collect().map(r => (r.getAs[Long]("timestamp"), r.getAs[Double]("value")))
      assert(fromBin.toSeq == fromPq.toSeq, s"range [$s, $e] diverged")
    }
    // total row parity
    assert(spark.read.format(fmt).load(binStore).count() ==
      Snapshot.read(spark, pqStore).count())
  }

  test("oversized shard (1M points, one hour) streams through without " +
      "materializing in one heap") {
    val binStore = Files.createTempDirectory("graft_big_bin_").toString
    // one million points inside a SINGLE hour shard, built distributed
    // (spark.range, not a driver Seq): the writer must sort-merge and
    // stream-encode them — the old mapGroups path buffered the whole
    // shard as boxed tuples in one task
    val hourStart = 3600000L * 500
    val big = spark.range(1000000).select(
      (lit(hourStart) + (col("id") * 3L) % 3600000L).as("timestamp"),
      (col("id") % 1000).cast("double").as("value"),
      lit("default").as("metric")).as[DataPoint]
    graft.sources.gorilla.GorillaShardWriter.writeShards(big, binStore)
    // exactly one shard file, and its stats pass confirms every point
    // survived the stream encode (count + extremes, no full decode)
    val files = new java.io.File(binStore).listFiles().filter(_.getName.endsWith(".bin"))
    assert(files.length == 1, files.map(_.getName).toSeq.toString)
    val (n, mn, mx) = graft.sources.gorilla.GorillaCodec.tsStats(
      java.nio.file.Files.readAllBytes(files.head.toPath))
    assert(n == 1000000L)
    // ids 0..999999 → offsets 3·id, all under 3 600 000 — max is 2 999 997
    assert(mn == hourStart && mx == hourStart + 2999997L)
    // spot-check full decode order: nondecreasing timestamps (the writer
    // sorts by (ts, value) within the shard)
    val it = graft.sources.gorilla.GorillaCodec.decodeIterator(
      java.nio.file.Files.readAllBytes(files.head.toPath))
    var prev = Long.MinValue; var cnt = 0L
    it.foreach { case (ts, _) => assert(ts >= prev); prev = ts; cnt += 1 }
    assert(cnt == 1000000L)
  }

  test("round trip parquet -> bin -> parquet preserves every point") {
    val pqStore = Files.createTempDirectory("graft_rt_pq_").toString
    val binStore = Files.createTempDirectory("graft_rt_bin_").toString
    Snapshot.ingestCommitted(pts.toDS(), pqStore)
    val back = Snapshot.read(spark, pqStore)
      .select(col("timestamp"), col("value"), col("metric")).as[DataPoint]
    graft.sources.gorilla.GorillaShardWriter.writeShards(back, binStore)
    val got = spark.read.format(fmt).load(binStore)
      .orderBy("timestamp").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == pts.sortBy(_.timestamp).map(p => (p.timestamp, p.value)))
  }
}
