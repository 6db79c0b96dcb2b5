package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.DataPoint
import graft.operators.{Ingest, Snapshot}

/** The snapshot-manifest store: commit/read/compact/vacuum lifecycle,
  * the exact-rows-across-compaction guarantee, and the two-phase delete
  * (tombstones survive until vacuum; old generations stay readable). */
class SnapshotStoreSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val hourMs = 3600000L
  private val baseMs = 1700000000000L - (1700000000000L % hourMs)

  private def points(n: Long, hour: Int, metric: String) =
    spark.range(n).select(
      (lit(baseMs + hour * hourMs) + col("id") % 3600000L).as("timestamp"),
      col("id").cast("double").as("value"),
      lit(metric).as("metric")).as[DataPoint]

  test("commit folds appended files in; read sees exactly the committed rows") {
    val store = Files.createTempDirectory("graft_snap1_").toString
    Ingest.writeStore(points(1000, 0, "cpu").toDF(), store)
    val g0 = Snapshot.commit(spark, store)
    assert(g0 == 0 && Snapshot.read(spark, store).count() == 1000)
    // uncommitted append is INVISIBLE to snapshot readers
    Ingest.writeStore(points(500, 1, "cpu").toDF(), store)
    assert(Snapshot.read(spark, store).count() == 1000)
    val g1 = Snapshot.commit(spark, store)
    assert(g1 == 1 && Snapshot.read(spark, store).count() == 1500)
    // partition column survives the log-planned read
    assert(Snapshot.read(spark, store)
      .filter(col("shard_hour") === baseMs / hourMs).count() == 1000)
  }

  test("compaction preserves rows exactly, tombstones old files, and " +
      "old files stay on disk until vacuum") {
    val store = Files.createTempDirectory("graft_snap2_").toString
    (0 until 8).foreach(i => Ingest.writeStore(points(100, 0, s"m$i").toDF(), store))
    Ingest.writeStore(points(300, 1, "cpu").toDF(), store)
    Snapshot.commit(spark, store)
    val before = Snapshot.read(spark, store)
      .groupBy("metric").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val (_, live0, _) = Snapshot.latest(spark, store)
    val hour0 = live0.count(_.startsWith(s"shard_hour=${baseMs / hourMs}/"))
    assert(hour0 >= 8)
    Snapshot.compactShard(spark, store, baseMs / hourMs, targetFiles = 2)
    val (_, live1, dead1) = Snapshot.latest(spark, store)
    assert(live1.count(_.startsWith(s"shard_hour=${baseMs / hourMs}/")) == 2)
    assert(dead1.size == hour0)
    // tombstoned files still physically present (in-flight readers)
    dead1.foreach(t => assert(
      new java.io.File(s"$store/${t.path}").exists(),
      s"tombstone ${t.path} deleted early"))
    val after = Snapshot.read(spark, store)
      .groupBy("metric").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after == before)
    // vacuum with zero grace deletes tombstones; reads unaffected
    val del = Snapshot.vacuum(spark, store, graceMs = 0L)
    assert(del == hour0.toLong, s"deleted $del of $hour0")
    dead1.foreach(t => assert(!new java.io.File(s"$store/${t.path}").exists()))
    val (g2, _, dead2) = Snapshot.latest(spark, store)
    assert(dead2.isEmpty)
    assert(Snapshot.read(spark, store).groupBy("metric").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet == before)
    // vacuum trims old generations but keeps the latest readable
    assert(g2 >= 2)
  }

  test("vacuum grace keeps young tombstones; a plain store's read is refused") {
    val store = Files.createTempDirectory("graft_snap3_").toString
    Ingest.writeStore(points(200, 0, "a").toDF(), store)
    Ingest.writeStore(points(200, 0, "b").toDF(), store)
    val e = intercept[IllegalArgumentException](Snapshot.read(spark, store))
    assert(e.getMessage.contains("Snapshot.commit"), e.getMessage) // no manifest yet
    Snapshot.commit(spark, store)
    assert(Snapshot.read(spark, store).count() == 400)
    Snapshot.compactShard(spark, store, baseMs / hourMs)
    val (_, _, dead) = Snapshot.latest(spark, store)
    assert(dead.nonEmpty)
    // freshly tombstoned files are inside any sane grace window
    assert(Snapshot.vacuum(spark, store, graceMs = 3600000L) == 0L)
    val (_, _, deadAfter) = Snapshot.latest(spark, store)
    assert(deadAfter.toSet == dead.toSet)
    assert(Snapshot.vacuum(spark, store, graceMs = 0L) == dead.size.toLong)
  }

  test("the DEFAULT read path is manifest-aware: Snapshot.read and " +
      "queryRange stay exact through the compact-without-vacuum window") {
    val store = Files.createTempDirectory("graft_snap4_").toString
    (0 until 6).foreach(i => Ingest.writeStore(points(500, 0, s"m$i").toDF(), store))
    Ingest.writeStore(points(700, 1, "cpu").toDF(), store)
    Snapshot.commit(spark, store)
    val total = 6 * 500 + 700
    assert(Snapshot.read(spark, store).count() == total)
    Snapshot.compactShard(spark, store, baseMs / hourMs)
    // old + compacted files coexist on disk NOW — the r10 trap window.
    // A plain directory read would double-count hour 0; the store's read
    // entry points must not.
    assert(spark.read.parquet(store).count() > total,
      "fixture failed to create the double-count window")
    assert(Snapshot.read(spark, store).count() == total)
    val q = Ingest.queryRange(spark, store, baseMs, baseMs + hourMs - 1,
      cap = 10000)
    assert(q.count() == 3000) // exactly hour 0's rows, once each
    // q_range_scan shape: values exact, no duplicated points
    assert(q.groupBy("timestamp", "metric").count()
      .filter(col("count") > 1).count() == 0)
    Snapshot.vacuum(spark, store, graceMs = 0L)
    assert(Snapshot.read(spark, store).count() == total)
  }

  test("lifecycle ops commit on a manifest store, refuse a plain one") {
    val store = Files.createTempDirectory("graft_snap5_").toString
    Ingest.writeStore(points(100, 0, "cpu").toDF(), store)
    val h0 = baseMs / hourMs
    val (lo, hi) = (baseMs, baseMs + hourMs - 1)
    // the read entry points, each counting the rows it sees
    val reads = Seq[(String, () => Long)](
      "read" -> (() => Snapshot.read(spark, store).count()),
      "readWithGen" -> (() => Snapshot.readWithGen(spark, store)._2.count()),
      "pin" -> { () =>
        val (df, lease) = Snapshot.pin(spark, store)
        try df.count() finally lease.close()
      },
      "queryRange" -> (() =>
        Ingest.queryRange(spark, store, lo, hi, cap = Int.MaxValue).count()),
      "rangeStats" -> (() =>
        Snapshot.rangeStats(spark, store, lo, hi).collect()(0).getLong(0)))
    reads.foreach { case (op, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains(store) && e.getMessage.contains("Snapshot.commit"),
        s"$op: ${e.getMessage}")
    }
    assert(!Snapshot.hasManifest(spark, store), "a refused read created a manifest")
    val ops = Seq[(String, () => Any)](
      "compactShard" -> (() => Snapshot.compactShard(spark, store, h0)),
      "expireShards" -> (() => Snapshot.expireShards(spark, store, h0 - 1)),
      "deleteRange" -> (() => Snapshot.deleteRange(spark, store, baseMs, baseMs + 10)),
      "upsertPoints" -> (() => Snapshot.upsertPoints(spark, store, points(1, 0, "cpu"))),
      "describeStore" -> (() => Snapshot.describeStore(spark, store)))
    ops.foreach { case (op, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains(op) && e.getMessage.contains("Snapshot.commit"),
        e.getMessage)
    }
    assert(spark.read.parquet(store).count() == 100, "a refused op changed the store")
    Snapshot.commit(spark, store)
    reads.foreach { case (op, run) => assert(run() == 100L, op) }
    ops.foreach { case (_, run) => run() }
    // the delete took ids 0..10; the upsert put id 0 back
    assert(Snapshot.read(spark, store).count() == 100 - 11 + 1)
  }

  test("vacuum grace runs from TOMBSTONE time, not file mtime: " +
      "long-lived files compacted away survive the grace window") {
    val store = Files.createTempDirectory("graft_snap6_").toString
    Ingest.writeStore(points(100, 0, "a").toDF(), store)
    Ingest.writeStore(points(100, 0, "b").toDF(), store)
    Snapshot.commit(spark, store)
    // age the data files: written "100 days ago" as far as mtime shows
    val (_, live, _) = Snapshot.latest(spark, store)
    val past = System.currentTimeMillis() - 100L * 86400000L
    live.foreach { f =>
      assert(new java.io.File(s"$store/$f").setLastModified(past))
    }
    Snapshot.compactShard(spark, store, baseMs / hourMs)
    // mtime-based grace would delete these instantly (the r10 advisor
    // finding); tombstone-time grace keeps them for the full hour
    assert(Snapshot.vacuum(spark, store, graceMs = 3600000L) == 0L)
    val (_, _, dead) = Snapshot.latest(spark, store)
    assert(dead.nonEmpty)
    dead.foreach(t => assert(new java.io.File(s"$store/${t.path}").exists()))
    assert(Snapshot.read(spark, store).count() == 200)
  }

  test("a pinned reader holds its generation across vacuum; closing the " +
      "lease releases it") {
    val store = Files.createTempDirectory("graft_snap7_").toString
    (0 until 4).foreach(i => Ingest.writeStore(points(250, 0, s"m$i").toDF(), store))
    Snapshot.commit(spark, store)
    val (pinnedDf, lease) = Snapshot.pin(spark, store)
    Snapshot.compactShard(spark, store, baseMs / hourMs)
    // zero grace, but the lease floor retains every file the pinned plan
    // can touch (tombstone gen > lease gen)
    assert(Snapshot.vacuum(spark, store, graceMs = 0L) == 0L)
    // the long reader completes correctly AFTER the vacuum attempt
    assert(pinnedDf.count() == 1000)
    lease.close()
    val (_, _, dead) = Snapshot.latest(spark, store)
    assert(Snapshot.vacuum(spark, store, graceMs = 0L) == dead.size.toLong)
    assert(Snapshot.read(spark, store).count() == 1000)
  }

  test("expired leases stop blocking vacuum (crashed-reader TTL)") {
    val store = Files.createTempDirectory("graft_snap8_").toString
    Ingest.writeStore(points(100, 0, "a").toDF(), store)
    Ingest.writeStore(points(100, 0, "b").toDF(), store)
    Snapshot.commit(spark, store)
    val (_, lease) = Snapshot.pin(spark, store)
    Snapshot.compactShard(spark, store, baseMs / hourMs)
    assert(Snapshot.vacuum(spark, store, graceMs = 0L) == 0L) // pinned
    // crash the reader: the lease file goes stale instead of closed
    val leaseFile = new java.io.File(s"$store/${Snapshot.ManifestDir}")
      .listFiles().find(_.getName.startsWith("lease-")).get
    assert(leaseFile.setLastModified(System.currentTimeMillis() - 7200000L))
    val (_, _, dead) = Snapshot.latest(spark, store)
    assert(Snapshot.vacuum(spark, store, graceMs = 0L,
      leaseTtlMs = 3600000L) == dead.size.toLong)
    assert(!leaseFile.exists(), "expired lease not cleaned up")
    lease.close() // no-op on the already-deleted file
  }

  test("ingestCommitted commits exactly its own files: a torn earlier " +
      "write's orphan is quarantined, not adopted") {
    val store = Files.createTempDirectory("graft_snap9_").toString
    val g0 = Snapshot.ingestCommitted(points(400, 0, "cpu"), store)
    assert(g0 == 0 && Snapshot.read(spark, store).count() == 400)
    // simulate a torn write: a task file promoted into the partition dir
    // by a job that died before its commit ever ran
    val hourDir = new java.io.File(s"$store/shard_hour=${baseMs / hourMs}")
    val donor = hourDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val orphan = new java.io.File(hourDir, "part-torn-orphan.parquet")
    java.nio.file.Files.copy(donor.toPath, orphan.toPath)
    // the next exact-list ingest must NOT fold the orphan in — neither a
    // batch into an untouched hour (trivially excluded by the r12
    // hour-scoped diff) nor one into the orphan's OWN hour (present
    // before the write, so the diff excludes it)
    Snapshot.ingestCommitted(points(300, 1, "cpu"), store)
    assert(Snapshot.read(spark, store).count() == 700)
    Snapshot.ingestCommitted(points(200, 0, "mem"), store)
    assert(Snapshot.read(spark, store).count() == 900)
    // adopt-everything commit() is the explicit opt-in that takes it
    Snapshot.commit(spark, store)
    assert(Snapshot.read(spark, store).count() > 900)
  }

  test("log v2: incremental commits replay exactly from the last " +
      "checkpoint; the cadence bounds the chain; vacuum re-checkpoints") {
    val store = Files.createTempDirectory("graft_snapv2_").toString
    val cm = Snapshot.committer(spark, store)
    // 7 ingests at checkpointEvery=3: m0 i1 i2 m3 i4 i5 m6
    (0 until 7).foreach { i =>
      // route through commitAdded to control the cadence
      Ingest.writeStore(points(100, i, s"m$i").toDF(), store)
      val files = new java.io.File(s"$store/shard_hour=${baseMs / hourMs + i}")
        .listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => s"shard_hour=${baseMs / hourMs + i}/${f.getName}")
      val g = cm.commitAdded(files.toSeq, checkpointEvery = 3)
      assert(g == i.toLong)
    }
    val names = new java.io.File(s"$store/${Snapshot.ManifestDir}")
      .listFiles().map(_.getName).filter(n => n.startsWith("m") || n.startsWith("i"))
      .sorted.toVector
    assert(names == Vector("i1", "i2", "i4", "i5", "m0", "m3", "m6"),
      s"unexpected manifest chain: $names")
    // replay equals the full state: every commit visible exactly once
    val (g, live, dead) = Snapshot.latest(spark, store)
    assert(g == 6 && live.size >= 7 && dead.isEmpty)
    assert(Snapshot.read(spark, store).count() == 700)
    // a fresh (uncached) reader agrees hour by hour
    (0 until 7).foreach { i =>
      assert(Snapshot.read(spark, store)
        .filter(col("shard_hour") === baseMs / hourMs + i).count() == 100)
    }
    // compaction commits an INCREMENT (adds + tombs); replay stays exact
    Snapshot.compactShard(spark, store, baseMs / hourMs)
    assert(Snapshot.read(spark, store).count() == 700)
    val (_, _, dead1) = Snapshot.latest(spark, store)
    assert(dead1.nonEmpty)
    // vacuum always re-checkpoints and trims the chain to checkpoints +
    // newer increments — the kept chain must stay replayable
    Snapshot.vacuum(spark, store, graceMs = 0L, keepManifests = 1)
    val kept = new java.io.File(s"$store/${Snapshot.ManifestDir}")
      .listFiles().map(_.getName).filter(n => n.startsWith("m") || n.startsWith("i"))
      .sorted.toVector
    assert(kept.head.startsWith("m"), s"trimmed chain starts mid-air: $kept")
    assert(Snapshot.read(spark, store).count() == 700)
    val (_, _, dead2) = Snapshot.latest(spark, store)
    assert(dead2.isEmpty)
  }

  test("log v2: a second committer's stale-generation commit is LOUD " +
      "(refused), and refresh() recovers it") {
    val store = Files.createTempDirectory("graft_snapv2b_").toString
    val cm1 = Snapshot.committer(spark, store)
    Ingest.writeStore(points(100, 0, "a").toDF(), store)
    val files0 = new java.io.File(s"$store/shard_hour=${baseMs / hourMs}")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => s"shard_hour=${baseMs / hourMs}/${f.getName}").toSeq
    cm1.commitAdded(files0)
    val cm2 = Snapshot.committer(spark, store) // same gen as cm1 now
    Ingest.writeStore(points(100, 1, "b").toDF(), store)
    val files1 = new java.io.File(s"$store/shard_hour=${baseMs / hourMs + 1}")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => s"shard_hour=${baseMs / hourMs + 1}/${f.getName}").toSeq
    cm1.commitAdded(files1)
    // cm2 is now stale: its next commit targets an existing generation
    Ingest.writeStore(points(100, 2, "c").toDF(), store)
    val files2 = new java.io.File(s"$store/shard_hour=${baseMs / hourMs + 2}")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => s"shard_hour=${baseMs / hourMs + 2}/${f.getName}").toSeq
    intercept[IllegalStateException] { cm2.commitAdded(files2, retries = 0) }
    // the store is uncorrupted after the refused commit
    assert(Snapshot.read(spark, store).count() == 200)
    // an APPEND's delta is disjoint by construction, so the default
    // retry refreshes and re-commits on top of the new head
    cm2.commitAdded(files2)
    assert(Snapshot.read(spark, store).count() == 300)
    // cm1 is stale in turn now; its next append also self-recovers
    Ingest.writeStore(points(50, 3, "d").toDF(), store)
    val files3 = new java.io.File(s"$store/shard_hour=${baseMs / hourMs + 3}")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => s"shard_hour=${baseMs / hourMs + 3}/${f.getName}").toSeq
    cm1.commitAdded(files3)
    assert(Snapshot.read(spark, store).count() == 350)
  }

  // zero-FS-call plan equals the listed store, prunes shard_hour
  // partitions, and a size-less legacy manifest plans from the log too
  test("manifest-planned reads, legacy size-less logs included") {
    val store = Files.createTempDirectory("graft_snapidx_").toString
    (0 until 3).foreach(h => Ingest.writeStore(points(200, h, s"m$h").toDF(), store))
    Snapshot.commit(spark, store)
    val df = Snapshot.read(spark, store)
    // the fast path plans via ManifestFileIndex
    assert(df.queryExecution.analyzed.toString.contains("ManifestFileIndex") ||
      df.queryExecution.executedPlan.toString.contains("ManifestFileIndex"),
      "expected the manifest-planned scan on a size-recorded store")
    // row-for-row equal to the stock directory read (no tombstones yet)
    val plain = spark.read.parquet(store)
    assert(df.count() == 600 &&
      df.exceptAll(plain).count() == 0 && plain.exceptAll(df).count() == 0)
    // partition pruning: a shard_hour predicate scans ONE hour's file(s)
    val pruned = df.filter(col("shard_hour") === baseMs / hourMs + 1)
    assert(pruned.count() == 200)
    val scanned = pruned.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.toString.split("\n")).mkString
    assert(pruned.queryExecution.executedPlan
      .toString.contains("PartitionFilters"), s"no partition filters: $scanned")
    // values + schema survive (timestamp/value/metric + shard_hour)
    assert(df.columns.toSet ==
      Set("timestamp", "value", "metric", "shard_hour"))
    // legacy (pre-size) manifest: rewrite the checkpoint without sizes —
    // the log replay statuses each live file once, so the read still
    // plans through ManifestFileIndex, with the same rows
    val mdir = new java.io.File(s"$store/${Snapshot.ManifestDir}")
    val ckpt = mdir.listFiles().filter(_.getName.startsWith("m"))
      .maxBy(_.getName.stripPrefix("m").toLong)
    val stripped = scala.io.Source.fromFile(ckpt).getLines().map { l =>
      if (l.startsWith("live ")) "live " + l.drop(5).split(" ", 2).last
      else l
    }.mkString("\n") + "\n"
    java.nio.file.Files.write(ckpt.toPath, stripped.getBytes("UTF-8"))
    // the local ChecksumFileSystem keeps a .crc sidecar; the raw rewrite
    // above (simulating an old writer's file) must not trip it
    new java.io.File(mdir, s".${ckpt.getName}.crc").delete()
    val legacy = Snapshot.read(spark, store)
    assert(legacy.queryExecution.executedPlan.toString.contains("ManifestFileIndex"))
    assert(legacy.count() == 600 &&
      legacy.exceptAll(plain).count() == 0)
    // vacuum's checkpoint records the sizes the replay resolved
    Snapshot.vacuum(spark, store)
    val vacuumed = mdir.listFiles().filter(_.getName.startsWith("m"))
      .maxBy(_.getName.stripPrefix("m").toLong)
    val liveLines = scala.io.Source.fromFile(vacuumed).getLines()
      .filter(_.startsWith("live ")).toList
    assert(liveLines.nonEmpty && liveLines.forall(l =>
      l.split(" ") match {
        case Array(_, sz, path) => sz.toLong == new java.io.File(store, path).length
        case _ => false
      }), liveLines.mkString("\n"))
    assert(Snapshot.read(spark, store).exceptAll(plain).count() == 0)
  }

  test("log v2 txn: ingestOnce skips re-delivered batches, and the " +
      "high-water survives restarts, maintenance checkpoints, and trims") {
    val store = Files.createTempDirectory("graft_snaptxn_").toString
    val cm = Snapshot.committer(spark, store)
    cm.ingestOnce(points(100, 0, "a"), "app", 0L)
    cm.ingestOnce(points(100, 1, "b"), "app", 1L)
    assert(Snapshot.read(spark, store).count() == 200)
    // at-least-once delivery: the same batch id again is a NO-OP (no
    // write job runs at all — the skip is before ingest)
    cm.ingestOnce(points(100, 1, "b"), "app", 1L)
    assert(Snapshot.read(spark, store).count() == 200)
    // restart: a fresh committer reads the high-water from the log
    val cm2 = Snapshot.committer(spark, store)
    assert(cm2.txnVersion("app") == 1L)
    cm2.ingestOnce(points(100, 1, "b"), "app", 1L)
    assert(Snapshot.read(spark, store).count() == 200)
    // an independent app's versions are tracked separately
    cm2.ingestOnce(points(50, 2, "c"), "other", 0L)
    assert(Snapshot.read(spark, store).count() == 250)
    // maintenance checkpoints + trims must carry the high-waters:
    // vacuum(keepManifests=1) leaves ONLY its own checkpoint behind
    Snapshot.compactShard(spark, store, baseMs / hourMs)
    Snapshot.vacuum(spark, store, graceMs = 0L, keepManifests = 1)
    val cm3 = Snapshot.committer(spark, store)
    assert(cm3.txnVersion("app") == 1L && cm3.txnVersion("other") == 0L)
    cm3.ingestOnce(points(100, 1, "b"), "app", 1L) // still a no-op
    assert(Snapshot.read(spark, store).count() == 250)
    cm3.ingestOnce(points(100, 3, "d"), "app", 2L) // next batch applies
    assert(Snapshot.read(spark, store).count() == 350)
  }

  test("generation collision is detected ACROSS manifest spellings: a " +
      "vacuum checkpoint (m<g>) racing a cached committer's increment " +
      "(i<g>) is loud, and the default retry self-recovers") {
    val store = Files.createTempDirectory("graft_snapx_").toString
    val cm = Snapshot.committer(spark, store)
    def hourFiles(h: Int): Seq[String] = {
      val d = new java.io.File(s"$store/shard_hour=${baseMs / hourMs + h}")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => s"shard_hour=${baseMs / hourMs + h}/${f.getName}").toSeq
    }
    Ingest.writeStore(points(100, 0, "a").toDF(), store)
    cm.commitAdded(hourFiles(0)) // m0 (first commit checkpoints)
    Ingest.writeStore(points(100, 1, "b").toDF(), store)
    cm.commitAdded(hourFiles(1)) // i1
    // maintenance commit the cached committer doesn't know about: vacuum
    // always writes a CHECKPOINT — m2, a different SPELLING than the i2
    // the stale committer is about to write. The r11 name-only guard
    // never fired here; both gen-2 files landed and a pre-append vacuum
    // checkpoint could silently drop the append (r11 advisor, high).
    Snapshot.vacuum(spark, store, graceMs = 0L) // m2
    Ingest.writeStore(points(100, 2, "c").toDF(), store)
    intercept[IllegalStateException] {
      cm.commitAdded(hourFiles(2), retries = 0)
    }
    assert(Snapshot.read(spark, store).count() == 200) // store uncorrupted
    cm.commitAdded(hourFiles(2)) // default retries: refresh + re-commit
    assert(Snapshot.read(spark, store).count() == 300)
    val (g, _, _) = Snapshot.latest(spark, store)
    assert(g == 3, s"expected the retried commit at gen 3, got $g")
  }

  test("a committer whose generation vacuum trimmed away commits at the " +
      "head, not into the empty slot below it") {
    val store = Files.createTempDirectory("graft_snapstale_").toString
    val cm = Snapshot.committer(spark, store)
    val g = cm.ingest(points(100, 0, "a"))
    // keepManifests = 3: the fourth vacuum checkpoint trims slot g + 1
    val vacuumed = (1 to 4).map { _ =>
      Snapshot.vacuum(spark, store); Snapshot.latest(spark, store)._1 }
    assert(!new java.io.File(s"$store/${Snapshot.ManifestDir}/m${g + 1}").exists())
    val g2 = cm.ingest(points(100, 1, "b"))
    assert((g +: vacuumed).forall(_ < g2), s"commit landed at $g2 below $vacuumed")
    val (head, live, _) = Snapshot.latest(spark, store)
    assert(head == g2 && live.exists(_.startsWith(s"shard_hour=${baseMs / hourMs + 1}/")))
    assert(Snapshot.read(spark, store).count() == 200)
  }

  test("equal-generation tie (a lost race on a non-atomic filesystem) " +
      "replays checkpoint first, increment after: the increment's adds " +
      "survive instead of being dropped by listing order") {
    val store = Files.createTempDirectory("graft_snaptie_").toString
    Ingest.writeStore(points(100, 0, "a").toDF(), store)
    Snapshot.commit(spark, store) // m0
    // hour-1 data that gen 1 SHOULD carry
    Ingest.writeStore(points(100, 1, "b").toDF(), store)
    val h1 = new java.io.File(s"$store/shard_hour=${baseMs / hourMs + 1}")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (s"shard_hour=${baseMs / hourMs + 1}/${f.getName}", f.length))
    val mdir = java.nio.file.Paths.get(store, Snapshot.ManifestDir)
    // handcraft the lost race: i1 (the append) AND m1 (a maintenance
    // checkpoint built from pre-append state — same content as m0) both
    // on disk at generation 1. Deterministic replay order must be
    // checkpoint-then-increment so the append is preserved.
    val i1 = h1.map { case (f, sz) => s"add $sz $f" }.mkString("", "\n", "\n")
    java.nio.file.Files.write(mdir.resolve("i1"), i1.getBytes("UTF-8"))
    val m0 = new String(
      java.nio.file.Files.readAllBytes(mdir.resolve("m0")), "UTF-8")
    java.nio.file.Files.write(mdir.resolve("m1"), m0.getBytes("UTF-8"))
    val (g, live, _) = Snapshot.latest(spark, store)
    assert(g == 1)
    h1.foreach { case (f, _) =>
      assert(live.contains(f), s"increment add $f dropped by tie order") }
    assert(Snapshot.read(spark, store).count() == 200)
  }

  test("vacuum sweeps stranded .tmp- commit files older than the lease " +
      "TTL; a fresh (possibly in-flight) tmp stays") {
    val store = Files.createTempDirectory("graft_snaptmp_").toString
    Ingest.writeStore(points(100, 0, "a").toDF(), store)
    Snapshot.commit(spark, store)
    val mdir = new java.io.File(s"$store/${Snapshot.ManifestDir}")
    val stale = new java.io.File(mdir, ".tmp-dead-writer")
    val fresh = new java.io.File(mdir, ".tmp-in-flight")
    java.nio.file.Files.write(stale.toPath, "add x".getBytes("UTF-8"))
    java.nio.file.Files.write(fresh.toPath, "add y".getBytes("UTF-8"))
    assert(stale.setLastModified(System.currentTimeMillis() - 7200000L))
    Snapshot.vacuum(spark, store, graceMs = 0L, leaseTtlMs = 3600000L)
    assert(!stale.exists(), "aged stranded tmp not swept")
    assert(fresh.exists(), "in-flight tmp must not be taken")
    assert(Snapshot.read(spark, store).count() == 100)
  }

  test("vacuum deletes staging directories older than the lease TTL; a " +
      "fresh (possibly in-flight) one stays; rows are unchanged") {
    val store = Files.createTempDirectory("graft_snapstage_").toString
    val cm = Snapshot.committer(spark, store)
    cm.ingest(points(100, 0, "a"))
    val hourDir = new java.io.File(s"$store/shard_hour=${baseMs / hourMs}")
    val donor = hourDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    // what a writer killed between its write and its move leaves: an
    // ingest's staging directory and a compaction's, each holding data
    def staged(name: String): java.io.File = {
      val dir = new java.io.File(store, name)
      val part = new java.io.File(dir, s"shard_hour=${baseMs / hourMs}")
      assert(part.mkdirs())
      java.nio.file.Files.copy(donor.toPath,
        new java.io.File(part, "part-staged.parquet").toPath)
      dir
    }
    val agedIngest = staged(s"${Snapshot.Staging}dead-writer")
    val agedCompact = staged(".compact_snap_0_dead-writer")
    val fresh = staged(s"${Snapshot.Staging}in-flight")
    val old = System.currentTimeMillis() - 7200000L
    assert(agedIngest.setLastModified(old) && agedCompact.setLastModified(old))
    Snapshot.vacuum(spark, store, graceMs = 0L, leaseTtlMs = 3600000L)
    assert(!agedIngest.exists(), "aged ingest staging directory not swept")
    assert(!agedCompact.exists(), "aged compaction staging directory not swept")
    assert(fresh.exists(), "in-flight staging directory must not be taken")
    assert(Snapshot.read(spark, store).count() == 100)
  }

  test("two sustained streaming writers (distinct appIds) interleave " +
      "safely: every stale-cache commit recovers via one retry, nothing " +
      "is lost, and both high-waters advance independently") {
    val store = Files.createTempDirectory("graft_snapdual_").toString
    val cmA = Snapshot.committer(spark, store)
    val cmB = Snapshot.committer(spark, store)
    // strict alternation — the serialized interleaving the HDFS/ABFS
    // loud-failure contract supports (see Snapshot docs: instant-level
    // races on S3A/local are excluded by the single-mid-commit rule).
    // After each counterpart commit the other cache is stale, so EVERY
    // commit from batch 1 on exercises the collision-retry path.
    (0 until 6).foreach { i =>
      cmA.ingestOnce(points(50, 2 * i, "a"), "appA", i.toLong)
      cmB.ingestOnce(points(50, 2 * i + 1, "b"), "appB", i.toLong)
    }
    assert(Snapshot.read(spark, store).count() == 600)
    val cm = Snapshot.committer(spark, store)
    assert(cm.txnVersion("appA") == 5L && cm.txnVersion("appB") == 5L)
    val (g, live, _) = Snapshot.latest(spark, store)
    assert(g == 11, s"12 commits should land gens 0..11, got head $g")
    assert(live.nonEmpty)
    // re-delivery stays idempotent per app through the interleaving
    cmA.ingestOnce(points(50, 0, "a"), "appA", 5L)
    assert(Snapshot.read(spark, store).count() == 600)
  }

  test("log v2: Committer.ingest commits exactly its own files with a " +
      "batch-scoped directory diff; orphans in touched hours stay out") {
    val store = Files.createTempDirectory("graft_snapv2c_").toString
    val cm = Snapshot.committer(spark, store)
    cm.ingest(points(400, 0, "cpu"))
    assert(Snapshot.read(spark, store).count() == 400)
    // orphan in the SAME hour a later batch touches: present before the
    // write, so the batch-scoped diff must exclude it
    val hourDir = new java.io.File(s"$store/shard_hour=${baseMs / hourMs}")
    val donor = hourDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val orphan = new java.io.File(hourDir, "part-torn-orphan.parquet")
    java.nio.file.Files.copy(donor.toPath, orphan.toPath)
    cm.ingest(points(300, 0, "mem"))
    assert(Snapshot.read(spark, store).count() == 700)
    // a crashed attempt's leftover staging directory (its write finished,
    // the writer died before the move) is never adopted: not by a later
    // ingest, not by an ingestOnce retry of the same batch, and not by
    // the adopt-everything commit()
    val stage = new java.io.File(store,
      s"${Snapshot.Staging}crashed/shard_hour=${baseMs / hourMs}")
    assert(stage.mkdirs())
    java.nio.file.Files.copy(donor.toPath,
      new java.io.File(stage, "part-staged-orphan.parquet").toPath)
    cm.ingest(points(100, 1, "late"))
    assert(Snapshot.read(spark, store).count() == 800)
    cm.ingestOnce(points(50, 2, "retry"), "appS", 0L)
    assert(Snapshot.read(spark, store).count() == 850)
    Snapshot.commit(spark, store)
    // commit() takes the hour directory's torn orphan, never the staged one
    val orphanRows = spark.read.parquet(orphan.getPath).count()
    assert(Snapshot.read(spark, store).count() == 850 + orphanRows)
    assert(Snapshot.latest(spark, store)._2.forall(_.startsWith("shard_hour=")))
    assert(new java.io.File(stage, "part-staged-orphan.parquet").exists())
  }

  test("a NON-DETERMINISTIC batch is pinned to one evaluation: the hour " +
      "probe and the write see the same rows, nothing is quarantined " +
      "(r12 ADVICE medium)") {
    val store = Files.createTempDirectory("graft_snapnd_").toString
    // every evaluation pass advances a shared counter; a SECOND pass
    // over this dataset lands in hour 1 instead of hour 0. The staged
    // write is the batch's only evaluation and the commit takes exactly
    // the files it wrote, so no second pass (e.g. an hour probe) can
    // disagree with it and quarantine the batch as orphans
    SnapshotEvalShift.n.set(0L)
    val base = baseMs
    val hr = hourMs
    val nd = spark.range(100).repartition(1).map { i =>
      val k = SnapshotEvalShift.n.incrementAndGet()
      val hour = if (k > 100L) 1L else 0L
      DataPoint(base + hour * hr + i, i.toDouble, "nd")
    }
    Snapshot.ingestCommitted(nd, store)
    assert(Snapshot.read(spark, store).count() == 100,
      s"pin failed: evaluations=${SnapshotEvalShift.n.get() / 100}")
    // same guarantee on the sustained Committer path
    SnapshotEvalShift.n.set(0L)
    val nd2 = spark.range(100).repartition(1).map { i =>
      val k = SnapshotEvalShift.n.incrementAndGet()
      val hour = if (k > 100L) 3L else 2L
      DataPoint(base + hour * hr + i, i.toDouble, "nd2")
    }
    Snapshot.committer(spark, store).ingest(nd2)
    assert(Snapshot.read(spark, store).count() == 200)
    // a dataset the CALLER persisted is left persisted
    val pre = points(10, 4, "pre").persist()
    Snapshot.committer(spark, store).ingest(pre)
    assert(pre.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "caller's persist was dropped")
    pre.unpersist()
    assert(Snapshot.read(spark, store).count() == 210)
  }

  test("every ingest entry point starts exactly one Spark job, hinted or not") {
    val store = Files.createTempDirectory("graft_snapjobs_").toString
    val cm = Snapshot.committer(spark, store)
    cm.ingest(points(100, 0, "w")) // warm: manifest creation, codegen
    def countJobs(body: => Unit): Int = SparkSpec.jobsDuring(body)._2
    val h0 = baseMs / hourMs
    val jobs = Seq(
      "Committer.ingest" -> countJobs { cm.ingest(points(100, 1, "x")); () },
      "Committer.ingest(hours)" -> countJobs {
        cm.ingest(points(100, 2, "y"), Seq(h0 + 2)); () },
      "Committer.ingestOnce" -> countJobs {
        cm.ingestOnce(points(100, 3, "z"), "appJ", 0L); () },
      // one-shot commit last: it leaves the committer's cache stale
      "Snapshot.ingestCommitted" -> countJobs {
        Snapshot.ingestCommitted(points(100, 5, "v"), store); () })
    jobs.foreach { case (call, n) => assert(n == 1, s"$call started $n jobs") }
    assert(Snapshot.read(spark, store).count() == 500)
  }

  test("compactShard starts the same jobs on a 4-file and a 40-file hour") {
    val store = Files.createTempDirectory("graft_snapcompactjobs_").toString
    val cm = Snapshot.committer(spark, store)
    // one file per input partition per hour: 4 files in hour 0, 40 in hour 1
    cm.ingest(points(400, 0, "a").repartition(4))
    (0 until 10).foreach(i => cm.ingest(points(400, 1, s"b$i").repartition(4)))
    def filesIn(h: Int) = Snapshot.latest(spark, store)._2
      .count(_.startsWith(s"shard_hour=${baseMs / hourMs + h}/"))
    assert(filesIn(0) == 4 && filesIn(1) == 40)
    val jobs = (0 to 1).map { h =>
      SparkSpec.jobsDuring(Snapshot.compactShard(spark, store, baseMs / hourMs + h))._2
    }
    // the read plans from the log: no schema-inference job, no parallel
    // listing job past the discovery threshold — only the write's jobs
    assert(jobs(0) == jobs(1) && jobs(0) <= 2, s"jobs per compaction: $jobs")
    assert(filesIn(0) == 1 && filesIn(1) == 1)
    assert(Snapshot.read(spark, store).count() == 4400)
  }

  test("upsertPoints starts the same jobs whatever the stored hours it " +
      "rewrites: all touched hours are one staged write") {
    // one update replacing a stored point in each stored hour, one in a
    // new hour 9 — over 2 and over 3 stored hours
    def upsertJobs(stored: Int): Int = {
      val store = Files.createTempDirectory("graft_snapupsertjobs_").toString
      (0 until stored).foreach(h => Ingest.writeStore(points(50, h, "cpu").toDF(), store))
      Snapshot.commit(spark, store)
      val updates = ((0 until stored) :+ 9).map(h =>
        DataPoint(baseMs + h * hourMs + 5L, -1.0, "cpu"))
      val n = SparkSpec.jobsDuring(
        Snapshot.upsertPoints(spark, store, updates.toDS()))._2
      val got = Snapshot.read(spark, store)
      assert(got.count() == 50L * stored + 1)
      assert(got.filter(col("value") === -1.0).count() == stored + 1)
      n
    }
    upsertJobs(2) // warm: codegen
    val (two, three) = (upsertJobs(2), upsertJobs(3))
    assert(two == three, s"jobs per upsert: 2 hours $two, 3 hours $three")
  }

  test("two racing committers under LockLeaseGuard, a compaction and a " +
      "grace vacuum: readers see one count per generation, never falling") {
    import scala.jdk.CollectionConverters._
    val store = Files.createTempDirectory("graft_snapdual_").toString
    // hour 0 holds 8 append files, so the mid-run compaction has work
    (0 until 8).foreach(i => Ingest.writeStore(points(100, 0, s"m$i").toDF(), store))
    Ingest.writeStore(points(300, 1, "cpu").toDF(), store)
    Snapshot.commit(spark, store)
    val seeded = 1100L
    val hour0 = baseMs / hourMs
    val batches = 6
    Snapshot.setCommitGuard(store, new Snapshot.LockLeaseGuard())
    try {
      val observed = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val gens = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val graceDeleted = new java.util.concurrent.atomic.AtomicLong(-1L)
      val writing = new java.util.concurrent.atomic.AtomicBoolean(true)
      val readersUp = new java.util.concurrent.CountDownLatch(2)
      def read(): Unit = {
        val (g, df) = Snapshot.readWithGen(spark, store)
        observed.add((g, df.count()))
      }
      val readers = (0 until 2).map(_ => new Thread(() =>
        try {
          read(); readersUp.countDown()
          while (writing.get) read()
          read()
        } catch { case t: Throwable => failures.add(t); readersUp.countDown() }))
      // compaction and vacuum are one-shot committers: a lost generation
      // race is loud under the guard, and a retry re-reads the log
      def retrying[A](n: Int)(body: => A): A =
        try body catch {
          case _: IllegalStateException if n > 0 =>
            Thread.sleep(50L); retrying(n - 1)(body)
        }
      def writer(firstHour: Int, maintain: Boolean) = new Thread(() =>
        try {
          val cm = Snapshot.committer(spark, store)
          (0 until batches).foreach { i =>
            val staged = Snapshot.stage(points(100, firstHour + i, "w").toDF(), store)
            gens.add(cm.commitAdded(staged.map(_._1), retries = 10))
            if (maintain && i == batches / 2) {
              gens.add(retrying(10)(Snapshot.compactShard(spark, store, hour0, 2)))
              graceDeleted.set(retrying(10)(
                Snapshot.vacuum(spark, store, graceMs = 3600000L)))
            }
          }
        } catch { case t: Throwable => failures.add(t) })
      readers.foreach(_.start())
      readersUp.await()
      val writers = Seq(writer(10, maintain = true), writer(300, maintain = false))
      writers.foreach(_.start())
      writers.foreach(_.join())
      writing.set(false)
      readers.foreach(_.join())
      assert(failures.isEmpty, failures.asScala.mkString("; "))
      val byGen = observed.asScala.toSeq.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (g, obs) => (g, obs.map(_._2).distinct) }
      assert(byGen.forall(_._2.size == 1), s"a generation served two counts: $byGen")
      val counts = byGen.map(_._2.head)
      assert(counts == counts.sorted, s"a count fell as the generation rose: $byGen")
      assert(byGen.size >= 2, s"readers saw one generation: $byGen")
      val committed = gens.asScala.toSeq
      assert(committed.distinct.size == committed.size && committed.size == 2 * batches + 1,
        s"lost or duplicated commits: $committed")
      assert(graceDeleted.get == 0L, "the grace vacuum deleted under live readers")
      val total = seeded + 2L * batches * 100L
      assert(counts.last == total)
      assert(Snapshot.read(spark, store).count() == total)
      Snapshot.vacuum(spark, store, graceMs = 0L)
      assert(Ingest.queryRange(spark, store, baseMs, baseMs + hourMs - 1).count() == 800L,
        "the compacted hour double-counted or lost rows")
    } finally Snapshot.clearCommitGuard(store)
  }

  test("log v2 commits are O(delta): five cached commits write the same " +
      "increments on a 10-file and a 2,000-file store, and no checkpoint") {
    import scala.jdk.CollectionConverters._
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    // zero-byte files: this checks the log, not parquet IO; their footer
    // reads fail, and each failure logs a warning
    val logger = Snapshot.getClass.getName
    val level = LogManager.getLogger(logger).getLevel
    Configurator.setLevel(logger, Level.ERROR)
    def touch(root: String, rel: String): String = {
      val p = java.nio.file.Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.createFile(p)
      rel
    }
    def increments(baseFiles: Int): Seq[(String, Seq[Byte])] = {
      val root = Files.createTempDirectory(s"graft_snapdelta_${baseFiles}_").toString
      (0 until baseFiles).foreach(i =>
        touch(root, f"shard_hour=${i / 1000}/base-$i%06d.parquet"))
      assert(Snapshot.commit(spark, root) == 0L)
      val cm = Snapshot.committer(spark, root)
      (1 to 5).foreach { c =>
        val files = (0 until 2).map(j =>
          touch(root, f"shard_hour=${1000000 + c}/app-$c%02d-$j.parquet"))
        assert(cm.commitAdded(files) == c.toLong)
      }
      assert(Snapshot.latest(spark, root)._2.size == baseFiles + 10)
      val mdir = java.nio.file.Paths.get(root, Snapshot.ManifestDir)
      Files.list(mdir).iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("[mi][0-9]+")).toSeq.sorted
        .map(n => n -> Files.readAllBytes(mdir.resolve(n)).toSeq)
    }
    try {
      val small = increments(10)
      val large = increments(2000)
      val names = Seq("i1", "i2", "i3", "i4", "i5", "m0")
      assert(small.map(_._1) == names && large.map(_._1) == names,
        s"expected m0 then five increments: ${small.map(_._1)} ${large.map(_._1)}")
      assert(small.init == large.init,
        "an increment's bytes depend on the table's size")
    } finally Configurator.setLevel(logger, level)
  }

  test("a store whose committed live set is empty reads as zero rows: " +
      "after ingestCommitted, commit and Committer.ingest of no points") {
    val empty = spark.emptyDataset[DataPoint]
    def fresh(tag: String) =
      Files.createTempDirectory(s"graft_empty_${tag}_").toString + "/store"
    val s1 = fresh("ingestCommitted")
    assert(Snapshot.ingestCommitted(empty, s1) == 0L)
    val s2 = fresh("commit")
    Files.createDirectories(java.nio.file.Paths.get(s2))
    assert(Snapshot.commit(spark, s2) == 0L)
    val s3 = fresh("committer")
    assert(Snapshot.committer(spark, s3).ingest(empty) == 0L)
    Seq(s1, s2, s3).foreach { store =>
      val (gen, live, _) = Snapshot.latest(spark, store)
      assert(gen == 0L && live.isEmpty, store)
      val df = Snapshot.read(spark, store)
      assert(df.columns.toSeq == Seq("timestamp", "value", "metric", "shard_hour"))
      assert(df.count() == 0L, store)
      assert(Ingest.queryRange(spark, store, baseMs, baseMs + hourMs).collect().isEmpty)
      val stats = Snapshot.rangeStats(spark, store, baseMs, baseMs + hourMs).collect()
      assert(stats.length == 1 && stats(0).getLong(0) == 0L &&
        stats(0).isNullAt(1) && stats(0).isNullAt(2), stats.mkString)
      // the first points into an empty store read back
      Snapshot.ingestCommitted(points(10, 0, "cpu"), store)
      assert(Snapshot.read(spark, store).count() == 10L)
    }
  }

  test("S3-class lost rename race: the mock racy FS silently overwrites " +
      "a same-generation commit without a guard; with LockLeaseGuard " +
      "the race is LOUD and the retry recovers BOTH commits; a stale " +
      "crashed-holder lock is taken over after its TTL") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.racy.impl", classOf[RacyFs].getName)
    def mkStore(tag: String): String = {
      val local = Files.createTempDirectory(s"graft_racy_${tag}_").toString
      val hourDir = new java.io.File(s"$local/shard_hour=0")
      hourDir.mkdirs()
      Seq("a", "b").foreach { nm =>
        java.nio.file.Files.write(
          new java.io.File(hourDir, s"$nm.parquet").toPath,
          "x".getBytes("UTF-8"))
      }
      s"racy://$local"
    }
    // UNGUARDED on the racy FS: A passes the existence check, stalls in
    // the check+rename window (latch); B commits the same generation;
    // A's rename then OVERWRITES B's manifest — the silent loss the
    // single-mid-commit contract documents
    val r1 = mkStore("raw")
    val cmA = Snapshot.committer(spark, r1)
    val cmB = Snapshot.committer(spark, r1)
    val (arrived, release) = RacyFs.arm()
    var aErr: Option[Throwable] = None
    val tA = new Thread(() => {
      try { cmA.commitAdded(Seq("shard_hour=0/a.parquet"), retries = 0); () }
      catch { case e: Throwable => aErr = Some(e) }
    })
    tA.start()
    assert(arrived.await(30, java.util.concurrent.TimeUnit.SECONDS),
      "victim never reached the rename window")
    cmB.commitAdded(Seq("shard_hour=0/b.parquet"), retries = 0)
    release.countDown()
    tA.join(30000)
    RacyFs.disarm()
    assert(aErr.isEmpty, s"overwriting rename should 'succeed': $aErr")
    val (g1, live1, _) = Snapshot.latest(spark, r1)
    assert(g1 == 0 && live1.toSet == Set("shard_hour=0/a.parquet"),
      s"expected B's commit silently lost on the racy FS, got gen=$g1 $live1")
    // GUARDED: same racy FS, same double-commit — the guard serializes
    // the window, the loser sees the winner's manifest (LOUD), and the
    // committer's refresh-retry lands it at the next generation
    val r2 = mkStore("guarded")
    Snapshot.setCommitGuard(r2, new Snapshot.LockLeaseGuard())
    try {
      val cmC = Snapshot.committer(spark, r2)
      val cmD = Snapshot.committer(spark, r2)
      var cErr: Option[Throwable] = None
      val tC = new Thread(() => {
        try { cmC.commitAdded(Seq("shard_hour=0/a.parquet")); () }
        catch { case e: Throwable => cErr = Some(e) }
      })
      tC.start()
      cmD.commitAdded(Seq("shard_hour=0/b.parquet"))
      tC.join(30000)
      assert(cErr.isEmpty, s"guarded commit failed: $cErr")
      val (g2, live2, _) = Snapshot.latest(spark, r2)
      assert(g2 == 1 && live2.toSet ==
        Set("shard_hour=0/a.parquet", "shard_hour=0/b.parquet"),
        s"guarded race lost a commit: gen=$g2 $live2")
      // lock released after both commits
      val fs = new org.apache.hadoop.fs.Path(r2)
        .getFileSystem(spark.sessionState.newHadoopConf())
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$r2/${Snapshot.ManifestDir}/commit.lock")))
    } finally Snapshot.clearCommitGuard(r2)
    // TTL takeover: a crashed holder's stale lock must not block forever
    val r3 = mkStore("ttl")
    Snapshot.setCommitGuard(r3, new Snapshot.LockLeaseGuard(ttlMs = 200L))
    try {
      val fs = new org.apache.hadoop.fs.Path(r3)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val mdir = new org.apache.hadoop.fs.Path(s"$r3/${Snapshot.ManifestDir}")
      fs.mkdirs(mdir)
      val lock = new org.apache.hadoop.fs.Path(mdir, "commit.lock")
      val out = fs.create(lock, false)
      out.write("dead-holder 0".getBytes("UTF-8")); out.close()
      fs.setTimes(lock, System.currentTimeMillis() - 10000L, -1L)
      val cmE = Snapshot.committer(spark, r3)
      assert(cmE.commitAdded(Seq("shard_hour=0/a.parquet")) == 0L)
      assert(!fs.exists(lock), "takeover left the lock behind")
    } finally Snapshot.clearCommitGuard(r3)
  }
}

/** Shared evaluation counter for the non-determinism pin spec (top-level
  * so executor-thread closures in local mode all see one instance). */
private[graft] object SnapshotEvalShift {
  val n = new java.util.concurrent.atomic.AtomicLong(0L)
}
