package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.DataPoint
import graft.operators.{Ingest, Snapshot}

/** Storage lifecycle on the manifest store: retention drops whole hour
  * shards without reading data; range delete and upsert rewrite only the
  * hours they touch; each op is one commit, so a frame opened before it
  * keeps its rows until vacuum. */
class StoreLifecycleSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def hourPts(hour: Long, n: Int): Seq[DataPoint] =
    (0 until n).map(i => DataPoint(hour * 3600000L + i * 1000L, i * 1.0))

  /** A manifest store adopting one append per batch. */
  private def store(tag: String, batches: Seq[DataPoint]*): String = {
    val root = Files.createTempDirectory(s"graft_${tag}_").toString
    batches.foreach(b => Ingest.writeStore(b.toDF(), root))
    Snapshot.commit(spark, root)
    root
  }

  private def live(root: String): Seq[String] = Snapshot.latest(spark, root)._2

  test("expireShards drops exactly the shards older than the cutoff") {
    val root = store("retention", Seq(0L, 1L, 2L).map(hourPts(_, 50)): _*)
    assert(Snapshot.read(spark, root).count() == 150)
    assert(Snapshot.expireShards(spark, root, cutoffHour = 2L) == 2L)
    val left = Snapshot.read(spark, root)
    assert(left.count() == 50)
    assert(left.select("shard_hour").distinct().collect().map(_.getLong(0)).toSeq == Seq(2L))
    // idempotent: nothing left to expire below the cutoff
    assert(Snapshot.expireShards(spark, root, cutoffHour = 2L) == 0L)
  }

  test("upsertPoints replaces at equal timestamps, preserves the rest, appends new hours") {
    val root = store("upsert", hourPts(1L, 10)) // ts 3600000 + i*1000
    val updates = Seq(
      DataPoint(3600000L + 3000L, 999.0),  // replaces existing ts
      DataPoint(3600000L + 3000L, 111.0),  // duplicate update ts: max wins
      DataPoint(3600000L + 500L, 55.0),    // new ts inside the existing hour
      DataPoint(5 * 3600000L + 1L, 77.0))  // brand-new hour
    Snapshot.upsertPoints(spark, root, updates.toDS())
    val got = Snapshot.read(spark, root)
      .select("timestamp", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == 12) // 10 original + 1 new-in-hour + 1 new-hour
    assert(got(3600000L + 3000L) == 999.0, "update must replace, max dup wins")
    assert(got(3600000L + 500L) == 55.0)
    assert(got(5 * 3600000L + 1L) == 77.0)
    assert(got(3600000L + 4000L) == hourPts(1L, 10)(4).value, "untouched row changed")
    // idempotent: applying the same updates again changes nothing
    Snapshot.upsertPoints(spark, root, updates.toDS())
    assert(Snapshot.read(spark, root).count() == 12)
  }

  test("deleteRange drops covered shards whole and rewrites only edge shards") {
    val root = store("delete", Seq(1L, 2L, 3L).map(hourPts(_, 50)): _*)
    val hour3 = live(root).filter(_.startsWith("shard_hour=3/"))
    // range covers all of hour 2 and the tail of hour 1 (from +30s onward)
    Snapshot.deleteRange(spark, root, 1L * 3600000L + 30000L, 3L * 3600000L - 1L)
    val left = Snapshot.read(spark, root)
    // hour 1 keeps ts offsets 0..29s (30 points), hour 2 gone, hour 3 intact
    assert(!live(root).exists(_.startsWith("shard_hour=2/")))
    assert(live(root).filter(_.startsWith("shard_hour=3/")) == hour3, "hour 3 rewritten")
    assert(left.count() == 30 + 50)
    assert(left.filter(col("timestamp").between(
      1L * 3600000L + 30000L, 3L * 3600000L - 1L)).count() == 0)
    // inclusive bounds: the exact boundary timestamps are gone too
    assert(left.filter(col("timestamp") === 1L * 3600000L + 30000L).count() == 0)
    // idempotent
    Snapshot.deleteRange(spark, root, 1L * 3600000L + 30000L, 3L * 3600000L - 1L)
    assert(Snapshot.read(spark, root).count() == 80)
  }

  test("upsertPoints replaces per (timestamp, metric), leaving other metrics' points intact") {
    val ts = 3600000L + 1000L
    val root = store("upsert_metric", Seq(
      DataPoint(ts, 1.0, "cpu"),
      DataPoint(ts, 2.0, "mem"),
      DataPoint(ts + 1000L, 3.0, "cpu")))
    // update only the cpu series at ts — mem's point at the SAME timestamp
    // must survive (the replacement key is the full series key)
    Snapshot.upsertPoints(spark, root, Seq(DataPoint(ts, 100.0, "cpu")).toDS())
    val got = Snapshot.read(spark, root)
      .select("timestamp", "metric", "value").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got.size == 3)
    assert(got((ts, "cpu")) == 100.0, "updated series must be replaced")
    assert(got((ts, "mem")) == 2.0, "other metric at the same ts must survive")
    assert(got((ts + 1000L, "cpu")) == 3.0)
  }

  test("describeStore reports per-shard files, bytes, and rows from metadata") {
    // two appends to hour 1: a second file, same hour
    val root = store("describe", hourPts(1L, 30), hourPts(1L, 20), hourPts(2L, 40))
    def report() = Snapshot.describeStore(spark, root).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val got = report()
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L)._1 >= 2L, "two appends must leave at least two files")
    assert(got(1L)._3 == 50L && got(2L)._3 == 40L)
    assert(got.values.forall(_._2 > 0L), "byte sizes must be positive")
    // after compaction the report reflects the collapsed layout
    Snapshot.compactShard(spark, root, 1L)
    val after = report()
    assert((after(1L)._1, after(1L)._3) == ((1L, 50L)))
  }

  test("each lifecycle op is one commit: a frame opened before it keeps " +
      "its rows until vacuum") {
    val root = store("isolation", (0L to 4L).map(hourPts(_, 40)): _*)
    val ops = Seq[(String, () => Any)](
      "expireShards" -> (() => Snapshot.expireShards(spark, root, cutoffHour = 1L)),
      // edge hours 1 and 3, hour 2 covered
      "deleteRange" -> (() =>
        Snapshot.deleteRange(spark, root, 3600000L + 10000L, 3L * 3600000L + 5000L)),
      // existing hour 4 rewritten, new hour 6 appended
      "upsertPoints" -> (() => Snapshot.upsertPoints(spark, root,
        Seq(DataPoint(4L * 3600000L, -1.0), DataPoint(6L * 3600000L, -2.0)).toDS())),
      "compactShard" -> (() => Snapshot.compactShard(spark, root, 4L)))
    ops.foreach { case (op, run) =>
      val (gen, frame) = Snapshot.readWithGen(spark, root)
      val rows = frame.collect().toSet
      run()
      assert(Snapshot.latest(spark, root)._1 == gen + 1, s"$op is not one commit")
      assert(frame.collect().toSet == rows, s"$op changed a frame opened before it")
    }
    // hours 1 (0..9 s) and 3 (6..39 s) keep their edges, hour 4 its 40
    // rows (one replaced), hour 6 gains one
    assert(Snapshot.read(spark, root).count() == 10 + 34 + 40 + 1)
    assert(Snapshot.vacuum(spark, root, graceMs = 0L) > 0L)
    assert(Snapshot.read(spark, root).count() == 85)
  }
}
