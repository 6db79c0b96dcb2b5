package graft

import java.sql.DriverManager
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.hive.thriftserver.HiveThriftServer2

/** Dev-only probe (r10): the serving tier under CONCURRENT WRITE load.
  * The r9 concurrency probe served a static store; a deployment serves
  * while ingesting and compacting. This boots the same Thrift JDBC
  * surface over a live hour-partitioned store and drives 16 parallel
  * clients while (a) a writer thread appends batches of new points and
  * (b) one `compactShard` cycle rewrites a CLOSED hour mid-run.
  *
  * Checks: zero failed queries; store counts observed by clients are
  * MONOTONE nondecreasing (appends only add; the compaction swap must
  * never surface a dip — the documented reader-visible absence window is
  * what this hunts); p50/p99 under write load vs the same mix on the
  * quiesced store.
  *
  * `ServingUnderWriteProbe [perClient] [writerBatches]` (defaults 30, 20).
  *
  * `ServingUnderWriteProbe dual [perClient] [writerBatches]` (r14,
  * verdict #7): TWO sustained committer threads — the same cached
  * [[graft.operators.Snapshot.Committer]] path the streaming snapshot
  * sink drives — race appends into disjoint hours under the bundled
  * [[graft.operators.Snapshot.LockLeaseGuard]], while the same 16
  * clients serve. The local FS is exactly the S3-class hazard surface
  * (rename overwrites, no atomic existence guard), so dual committers
  * here exercise the lease path for real: every generation collision
  * must surface LOUDLY inside the guard and recover via refresh-retry.
  * Checks (beyond the single-writer mode's): every committed generation
  * unique (zero lost/duplicate commits), final rows = seeded + BOTH
  * writers' batches, zero serving dips.
  */
object ServingUnderWriteProbe {
  def main(args: Array[String]): Unit = {
    val dual = args.headOption.contains("dual")
    val num = if (dual) args.drop(1) else args
    val perClient = num.headOption.map(_.toInt).getOrElse(30)
    val writerBatches = num.lift(1).map(_.toInt).getOrElse(20)
    val clients = 16
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.localBuilder(cpus, "serving-under-write-probe")
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val store = java.nio.file.Files
      .createTempDirectory("graft_servewrite_store_").toString
    val hourMs = 3600L * 1000L
    val baseMs = 1700000000000L - (1700000000000L % hourMs)
    def points(n: Long, hour: Int, metric: String) =
      spark.range(n).select(
        (lit(baseMs + hour * hourMs) + col("id") % 3600000L).as("timestamp"),
        (col("id") % 1000).cast("double").as("value"),
        lit(metric).as("metric"))
        .as[graft.model.DataPoint]
    // seed: 10 closed hours x 100k points; hour 0 gets 64 small appends
    // so the mid-run compaction has real work
    (0 until 10).foreach(h => operators.Ingest.ingestBatch(points(100000L, h, "cpu"), store))
    (0 until 64).foreach(i => operators.Ingest.ingestBatch(points(1000L, 0, s"m$i"), store))
    val seeded = spark.read.parquet(store).count()
    println(s"SERVEWRITE seeded rows=$seeded")

    val port = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    spark.conf.set("hive.server2.thrift.port", port.toString)
    val server = HiveThriftServer2.startWithContext(spark.sqlContext)
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    val url = s"jdbc:hive2://localhost:$port/default"
    var warm: java.sql.Connection = null
    var attempts = 0
    while (warm == null) {
      try warm = DriverManager.getConnection(url, "graft", "")
      catch { case _: Exception if attempts < 120 =>
        attempts += 1; Thread.sleep(500) }
    }
    // snapshot serving recipe: a global view over the DEFAULT read path
    // (Ingest.readPoints — manifest-aware since r11, so the serving tier
    // uses the same entry point every other consumer does), re-registered
    // by the WRITER after each commit. In-flight queries keep their
    // pinned (still-on-disk) generation; new queries get the new one —
    // no FILE_NOT_EXIST, no dips, by construction. The view carries the
    // generation it was planned against as a literal column so snapshot
    // isolation is checked PER GENERATION, not by completion order (a
    // slow gen-N query may legitimately finish after a fast gen-N+1 one).
    def refreshView(): Unit = {
      // same-thread with the commit (single-writer contract), so no
      // commit can slip between reading the gen and planning the view
      val (gen, _, _) = operators.Snapshot.latest(spark, store)
      operators.Ingest.readPoints(spark, store)
        .withColumn("manifest_gen", lit(gen))
        .createOrReplaceGlobalTempView("store_live")
    }
    operators.Snapshot.commit(spark, store)
    refreshView()
    val countQ =
      "SELECT max(manifest_gen) AS g, count(*) AS n FROM global_temp.store_live"
    val mix = Seq(
      countQ,
      s"SELECT sum(value) AS s, count(*) AS n FROM global_temp.store_live WHERE shard_hour = ${baseMs / hourMs}",
      s"SELECT metric, count(*) AS n FROM global_temp.store_live WHERE shard_hour = ${baseMs / hourMs + 5} GROUP BY metric")
    val wst = warm.createStatement()
    mix.foreach { q => val rs = wst.executeQuery(q); while (rs.next()) () }

    def drive(tag: String): (Array[Long], Long) = {
      val lat = new ConcurrentLinkedQueue[Long]()
      val counts = new ConcurrentLinkedQueue[(Long, Long)]() // (gen, n)
      val failures = new ConcurrentLinkedQueue[Throwable]()
      val ready = new CountDownLatch(clients)
      val go = new CountDownLatch(1)
      val threads = (0 until clients).map { ci =>
        new Thread(() => {
          try {
            val conn = DriverManager.getConnection(url, s"client$ci", "")
            val st = conn.createStatement()
            ready.countDown(); go.await()
            (0 until perClient).foreach { i =>
              val q = mix((ci + i) % mix.size)
              val t0 = System.nanoTime()
              val rs = st.executeQuery(q)
              var g = -1L; var n = -1L
              while (rs.next()) if (q == countQ) { g = rs.getLong(1); n = rs.getLong(2) }
              lat.add((System.nanoTime() - t0) / 1000000L)
              if (n >= 0) counts.add((g, n))
            }
            conn.close()
          } catch {
            case t: Throwable => failures.add(t); ready.countDown()
          }
        })
      }
      threads.foreach(_.start()); ready.await()
      val t0 = System.nanoTime(); go.countDown()
      threads.foreach(_.join())
      val wall = (System.nanoTime() - t0) / 1e9
      failures.forEach(t => println(s"SERVEWRITE CLIENT FAILURE [$tag]: $t"))
      assert(failures.isEmpty, s"$tag: ${failures.size} client failures")
      import scala.jdk.CollectionConverters._
      val xs = lat.asScala.toArray.sorted
      assert(xs.length == clients * perClient,
        s"$tag: ${xs.length} of ${clients * perClient} samples")
      // snapshot-isolation check PER GENERATION (r10 advisor: completion
      // order is not commit order under concurrent clients): every count
      // observed against generation g must be IDENTICAL (a generation's
      // live set is immutable), and counts across generations must be
      // nondecreasing in g (appends add rows; compaction preserves them).
      val byGen = counts.asScala.toArray.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (g, obs) => (g, obs.map(_._2).distinct) }
      val intraGenViolations = byGen.count(_._2.length > 1)
      val genCounts = byGen.map { case (g, ns) => (g, ns.head) }
      val dips = genCounts.map(_._2).sliding(2)
        .count(p => p.length == 2 && p(1) < p(0))
      println(f"SERVEWRITE $tag%-10s queries=${xs.length} wall=$wall%.1f " +
        f"p50=${xs(xs.length / 2)}ms p99=${xs((0.99 * xs.length).toInt)}ms " +
        f"max=${xs.last}ms count_obs=${counts.size} gens=${byGen.length} " +
        s"intra_gen_violations=$intraGenViolations dips=$dips " +
        s"first=${genCounts.headOption.map(_._2).getOrElse(-1L)} " +
        s"last=${genCounts.lastOption.map(_._2).getOrElse(-1L)}")
      assert(intraGenViolations == 0,
        s"$tag: a generation served two different counts — torn read")
      (xs, dips.toLong)
    }

    // baseline: quiesced store
    val (base, d0) = drive("static")
    assert(d0 == 0)

    // under write load: sustained appends through the LOG V2 COMMITTER
    // (cached handle — O(delta) commits, batch-scoped dir diff) + one
    // SNAPSHOT compaction of hour 0 and a grace-window vacuum mid-run.
    // Compaction/vacuum are stateless committers, so they deliberately
    // stale the Committer's cache — the next append's generation
    // collides and must self-recover via refresh-retry, live.
    // Dual mode: a SECOND sustained committer races into disjoint hours
    // under the LockLeaseGuard — the S3-class concurrent-committer
    // deployment shape, exercised on the rename-overwriting local FS.
    if (dual)
      operators.Snapshot.setCommitGuard(store,
        new operators.Snapshot.LockLeaseGuard())
    @volatile var writerDone = false
    val committedGens = new ConcurrentLinkedQueue[Long]()
    // Dual-writer append: every ingest already writes into a private
    // staging directory (two jobs sharing one output path would race
    // Hadoop's `_temporary/0` tree), so the MANIFEST commit is the only
    // shared step — exactly the window the LockLeaseGuard serializes.
    // Retries are sized to SUSTAINED dual contention: the default 2
    // covers the single-writer + one-maintenance interleaving; two
    // committers in a tight loop can lose the (loud, guard-serialized)
    // generation race 3+ times in a row — each retry refreshes to the
    // new head, so the bound is about patience, not correctness.
    def stagedIngest(cm: operators.Snapshot.Committer,
        pts: org.apache.spark.sql.Dataset[graft.model.DataPoint]): Long =
      cm.commitAdded(operators.Snapshot.stageBatch(pts, store).map(_._1),
        retries = 10)
    def writerThread(hourBase: Int, maintenance: Boolean): Thread =
      new Thread(() => {
        val cm = operators.Snapshot.committer(spark, store)
        (0 until writerBatches).foreach { i =>
          val batch = points(50000L, hourBase + i, "cpu")
          committedGens.add(
            if (dual) stagedIngest(cm, batch) else cm.ingest(batch))
          refreshView()
          if (maintenance && i == writerBatches / 2) {
            val t0 = System.nanoTime()
            // compaction/vacuum are ONE-SHOT committers (no cached-state
            // retry loop of their own): under a concurrent appender their
            // generation race is loud (guard-serialized) and the caller
            // retries the whole call — each attempt re-reads the log, so
            // a retry is always correct, just repeated work
            def retrying[A](n: Int)(body: => A): A =
              try body catch {
                case _: IllegalStateException if n > 0 =>
                  Thread.sleep(200L); retrying(n - 1)(body)
              }
            retrying(10)(
              operators.Snapshot.compactShard(spark, store, baseMs / hourMs, 4))
            // grace-window vacuum: commits a checkpoint, deletes nothing
            // (every tombstone is seconds old) — in-flight readers keep
            // their files; the real delete happens after the drain below
            val del = retrying(10)(
              operators.Snapshot.vacuum(spark, store, graceMs = 3600000L))
            refreshView()
            println(f"SERVEWRITE snapshot compaction+vacuum of hour0 took " +
              f"${(System.nanoTime() - t0) / 1e9}%.1f s (65 files -> 4, " +
              s"old files tombstoned, vacuum_deleted=$del expected 0)")
            assert(del == 0L, "grace-window vacuum deleted under live readers")
          }
        }
        writerDone = true
      })
    val writers =
      if (dual) Seq(writerThread(10, maintenance = true),
        writerThread(300, maintenance = false))
      else Seq(writerThread(10, maintenance = true))
    writers.foreach(_.start())
    val (under, d1) = drive(if (dual) "dualwrite" else "underwrite")
    writers.foreach(_.join())
    // final audits through the DEFAULT entry points (manifest-aware r11)
    val finalRows = operators.Ingest.readPoints(spark, store).count()
    import scala.jdk.CollectionConverters._
    val gens = committedGens.asScala.toVector.sorted
    println(s"SERVEWRITE final rows=$finalRows dips_underwrite=$d1 " +
      s"writer_done_before_clients=${writerDone} " +
      s"commits=${gens.length} distinct_gens=${gens.distinct.length}")
    assert(d1 == 0, s"$d1 count dips under write load")
    assert(gens.distinct.length == gens.length,
      "two commits landed on the SAME generation — a lost/overwritten commit")
    assert(finalRows == seeded + writers.length * writerBatches * 50000L)
    // two-phase delete completes once queries drain: vacuum, then one
    // more client burst on the vacuumed store
    val deleted = operators.Snapshot.vacuum(spark, store, graceMs = 0L)
    refreshView()
    val (post, d2) = drive("postvacuum")
    assert(d2 == 0)
    assert(operators.Ingest.readPoints(spark, store).count() == finalRows)
    assert(operators.Ingest.queryRange(spark, store, baseMs,
      baseMs + hourMs - 1, cap = 200000).count() ==
      100000L + 64 * 1000L, "queryRange double-counted the compacted hour")
    println(f"SERVEWRITE OK vacuum_deleted=$deleted " +
      f"p99 static=${base((0.99 * base.length).toInt)}ms " +
      f"underwrite=${under((0.99 * under.length).toInt)}ms " +
      f"postvacuum=${post((0.99 * post.length).toInt)}ms")
    server.stop()
    spark.stop()
    // a non-daemon HiveServer2 handler-pool thread outlives stop() and
    // keeps the JVM alive indefinitely (observed: main gone, DestroyJavaVM
    // waiting 18+ min) — the probe is done, leave unconditionally
    System.exit(0)
  }
}
