package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftLocalTask, TaskContext}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.{BroadcastBlockId, LocalTaskProbe}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model.DataPoint
import graft.operators.{Ingest, Snapshot}
import graft.plans.{CollectLocally, LocalCollect, LocalCollectExec}

/** Small manifest reads collect on the driver with no Spark job
  * ([[graft.plans.LocalCollect]]), under the session the library ships
  * ([[GraftSession.local]]). On a store built the way the serving
  * benchmark builds one — a compacted history plus micro-batch files,
  * with −0.0, +0.0 and NaN values and tied (timestamp, value) rows
  * planted — hot, cold and stats reads answer bit-for-bit as the job
  * path does, run no job inside the bound and at least one over either
  * bound, fail loudly and cleanly on a lost file, and stay correct under
  * concurrent readers. Writes and compactions never take the local path. */
class LocalCollectSpec extends AnyFunSuite with SparkSpec with BeforeAndAfterAll {

  private val hourMs = 3600000L
  private val t0 = 1700002800000L // an hour boundary
  private val batch = 1800
  private val cap = 10000

  /** The reference benchmark's series with planted zeros and a NaN, each
    * in a micro-batch file. */
  private def value(i: Int): Double = i match {
    case 9000 => -0.0
    case 9500 => 0.0
    case 11000 => Double.NaN
    case _ => 50.0 + 20.0 * math.sin(i / 100.0) + ((i * 7919) % 200 - 100) / 100.0
  }
  private def at(i: Int): Long = t0 + i * 1000L
  private def ds(s: SparkSession, is: Seq[Int]): Dataset[DataPoint] =
    s.createDataset(is.map(i => DataPoint(at(i), value(i))))(Encoders.product[DataPoint])

  private var plain: SparkSession = _
  private var root: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    plain = SparkSpec.bareSession()
    assert(spark.sessionState.columnarRules.contains(LocalCollect))
    assert(!plain.sessionState.columnarRules.contains(LocalCollect))
    root = Files.createTempDirectory("local-collect").toString + "/store"
    val committer = Snapshot.committer(spark, root)
    // two history hours in one commit, compacted per hour and vacuumed
    committer.ingest(ds(spark, 0 until 2 * 3600))
    Seq(0L, 1L).foreach(h => Snapshot.compactShard(spark, root, t0 / hourMs + h))
    Snapshot.vacuum(spark, root)
    committer.refresh()
    // two newer hours of micro-batches; a last batch repeats points, so
    // rows tie on (timestamp, value) within one file and across files
    (2 * 3600 until 4 * 3600 by batch).zipWithIndex.foreach { case (from, id) =>
      committer.ingestOnce(ds(spark, from until from + batch), "spec", id.toLong)
    }
    committer.ingest(ds(spark, (9600 until 9610) ++ (9600 until 9605) ++ Seq(12000, 12000)))
  }

  override def afterAll(): Unit = {
    if (root != null) org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root).getParentFile)
    super.afterAll()
  }

  private def read(s: SparkSession, store: String, kind: String, lo: Long, hi: Long): DataFrame =
    if (kind == "stats") Snapshot.rangeStats(s, store, lo, hi)
    else Ingest.queryRange(Snapshot.readWithGen(s, store)._2, lo, hi, cap)

  /** Rows as comparable values: doubles by their raw bits, so −0.0 and
    * +0.0 differ and every NaN compares by payload. */
  private def bits(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq.map {
    case d: Double => ("double", java.lang.Double.doubleToRawLongBits(d))
    case v => v
  })

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }
  private def isLocal(df: DataFrame): Boolean =
    nodes(df.queryExecution.executedPlan).exists(_.isInstanceOf[LocalCollectExec])

  /** `body` with session confs set on `s`, restored after. */
  private def withConf[A](s: SparkSession, kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> s.conf.getOption(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
  /** Under this, rangeStats keeps its parallel two-stage plan. */
  private val TinyOpenCost = "spark.sql.files.openCostInBytes" -> "1"

  private val kinds = Seq("hot", "cold", "stats")
  /** hot = one hour inside the micro-batch hours, cold = three hours from
    * the compacted start (the row cap binds), stats = three hours with
    * edges inside hours; plus windows on the planted values and ties. */
  private def windows: Seq[(String, Long, Long)] =
    (0 until 4).flatMap { k =>
      val h = at(2 * 3600 + k * 611 % 3600)
      val c = at(k * 211 % 3600)
      val s = at(1 + k * 797 % 3598)
      Seq(("hot", h, h + hourMs - 1), ("cold", c, c + 3 * hourMs - 1),
        ("stats", s, s + 3 * hourMs - 1))
    } ++ (for {
      (lo, hi) <- Seq((at(8999), at(9501)), (at(9000), at(11000)), (at(9599), at(9611)),
        (at(11999), at(12001)), (Long.MinValue, Long.MaxValue))
      kind <- kinds
    } yield (kind, lo, hi))

  test("hot, cold and stats reads are bit-identical to the job path and run no job") {
    for ((kind, lo, hi) <- windows) {
      val df = read(spark, root, kind, lo, hi)
      val (got, n) = SparkSpec.jobsDuring(df.collect())
      val job = read(plain, root, kind, lo, hi).collect()
      val twoStage = withConf(plain, TinyOpenCost)(read(plain, root, kind, lo, hi).collect())
      assert(bits(got) == bits(job), s"$kind [$lo, $hi] vs the job path")
      assert(bits(got) == bits(twoStage), s"$kind [$lo, $hi] vs the two-stage plan")
      // local exactly when the files scanned fit the bound; a scan of the
      // whole store is over it (every batch wrote one file per session
      // core), the scan side of a stats read never is here
      val scans = nodes(df.queryExecution.executedPlan).collect {
        case s: FileSourceScanExec => s.selectedPartitions
      }
      val fits = CollectLocally.fits(scans.map(_.totalNumberOfFiles).sum,
        scans.map(_.totalFileSize).sum, spark.sessionState.conf)
      assert(fits == (kind == "stats" || lo != Long.MinValue), s"$kind [$lo, $hi]: $scans")
      if (scans.nonEmpty) {
        assert(isLocal(df) == fits, s"$kind [$lo, $hi]:\n${df.queryExecution.executedPlan}")
      }
      assert((n == 0) == fits, s"$kind [$lo, $hi] started $n jobs")
    }
    // the planted values and ties reach the answers compared above
    val planted = read(spark, root, "hot", at(9000), at(11000)).collect()
    def raw(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    val vs = planted.map(_.getDouble(1))
    assert(raw(vs.head) == raw(-0.0) && vs.exists(raw(_) == raw(0.0)) && vs.last.isNaN)
    assert(planted.count(_.getLong(0) == at(9600)) == 3)
    val ties = read(spark, root, "hot", at(12000), at(12000)).collect()
    assert(ties.length == 3 && ties.distinct.length == 1)
    // a cold window holds more points than the cap
    val (_, clo, chi) = windows.find(_._1 == "cold").get
    assert(read(spark, root, "cold", clo, chi).collect().length == cap)
  }

  test("a read over either bound runs as a job with the same answer") {
    val (lo, hi) = (at(2 * 3600 + 100), at(2 * 3600 + 100) + hourMs - 1)
    val (slo, shi) = (at(3000), at(3000) + 3 * hourMs - 1)
    def run(kind: String, l: Long, h: Long) = {
      val df = read(spark, root, kind, l, h)
      val (rows, n) = SparkSpec.jobsDuring(df.collect())
      (bits(rows), n, isLocal(df))
    }
    val (hotRows, hotJobs, hotLocal) = run("hot", lo, hi)
    val (statsRows, statsJobs, statsLocal) = run("stats", slo, shi)
    assert(hotJobs == 0 && hotLocal && statsJobs == 0 && statsLocal)
    val files = "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "1"
    val bytes = "spark.sql.files.openCostInBytes" -> "1024"
    for (over <- Seq(files, bytes)) withConf(spark, over) {
      val (r1, n1, l1) = run("hot", lo, hi)
      val (r2, n2, l2) = run("stats", slo, shi)
      assert(r1 == hotRows && n1 >= 1 && !l1, s"hot over ${over._1}: $n1 jobs")
      assert(r2 == statsRows && n2 >= 1 && !l2, s"stats over ${over._1}: $n2 jobs")
    }
    // the bound itself: file count and bytes, each inclusive
    val conf = spark.sessionState.conf
    assert(CollectLocally.fits(conf.parallelPartitionDiscoveryThreshold,
      conf.filesOpenCostInBytes, conf))
    assert(!CollectLocally.fits(conf.parallelPartitionDiscoveryThreshold + 1L, 0L, conf))
    assert(!CollectLocally.fits(0L, conf.filesOpenCostInBytes + 1L, conf))
  }

  test("a data file lost under a planned read fails as the job path does, " +
      "and the local task releases its memory and block locks") {
    val store = Files.createTempDirectory("local-collect-lost").toString + "/store"
    try {
      Snapshot.ingestCommitted(ds(spark, 0 until 600), store)
      Snapshot.ingestCommitted(ds(spark, 600 until 1200), store)
      val (lo, hi) = (at(0), at(1199))
      val local = read(spark, store, "hot", lo, hi)
      val job = read(plain, store, "hot", lo, hi)
      val file = Snapshot.latest(spark, store)._2.head
      Files.delete(Paths.get(store, file))
      def failure(df: DataFrame): Throwable =
        intercept[Throwable](df.collect())
      val (localErr, n) = SparkSpec.jobsDuring(failure(local))
      val jobErr = failure(job)
      assert(n == 0 && isLocal(local), s"the local read started $n jobs")
      assert(localErr.getClass == jobErr.getClass,
        s"local ${localErr.getClass.getName} vs job ${jobErr.getClass.getName}")
      assert(localErr.getMessage.contains(file.split('/').last), localErr.getMessage)
      assert(TaskContext.get() == null, "the local task context outlived the read")
      assert(LocalTaskProbe.lockedBlocks == 0)
      assert(LocalTaskProbe.executionMemoryUsed == 0L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      Paths.get(store).getParent.toFile)
  }

  test("a local task that fails holding a block lock and execution memory " +
      "releases both") {
    val sc = spark.sparkContext
    val b = sc.broadcast(Array(1, 2, 3))
    try {
      b.value // the driver's copy is a block in its block manager
      var held = (-1L, -1, -1L)
      val err = intercept[IllegalStateException] {
        GraftLocalTask.runLocally(sc.parallelize(Seq(1), 1)) { _ =>
          val id = LocalTaskProbe.holdResources(BroadcastBlockId(b.id), 1L << 16)
          held = (id, LocalTaskProbe.lockCount(id), LocalTaskProbe.executionMemoryUsed)
          throw new IllegalStateException("operator failed")
        }
      }
      assert(err.getMessage == "operator failed")
      val (id, locks, memory) = held
      assert(id < -1024L && locks == 1 && memory >= (1L << 16), s"held $held")
      assert(LocalTaskProbe.lockCount(id) == 0 && LocalTaskProbe.executionMemoryUsed == 0L)
      assert(TaskContext.get() == null)
    } finally b.destroy()
  }

  test("8 concurrent readers get correct answers") {
    val cases = windows.take(12)
    val want = cases.map { case (kind, lo, hi) => bits(read(plain, root, kind, lo, hi).collect()) }
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val runs = (0 until 8).map { t =>
        Future {
          (0 until 12).map { k =>
            val i = (t * 5 + k) % cases.size
            val (kind, lo, hi) = cases(i)
            (i, bits(read(spark, root, kind, lo, hi).collect()))
          }
        }
      }
      val got = Await.result(Future.sequence(runs), Duration(5, TimeUnit.MINUTES)).flatten
      assert(got.size == 96)
      got.foreach { case (i, rows) => assert(rows == want(i), s"${cases(i)}") }
    } finally pool.shutdown()
  }

  test("write and compaction plans are never wrapped") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { seen.add(qe); () }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val store = Files.createTempDirectory("local-collect-write").toString + "/store"
    spark.listenerManager.register(listener)
    try {
      val committer = Snapshot.committer(spark, store)
      committer.ingest(ds(spark, 0 until 600))
      committer.ingestOnce(ds(spark, 600 until 900), "spec", 0L)
      Snapshot.compactShard(spark, store, t0 / hourMs)
      LocalTaskProbe.drainBus(spark.sparkContext)
      val plans = seen.asScala.toList.map(_.executedPlan)
      val writes = plans.filter(p => nodes(p).exists(_.isInstanceOf[DataWritingCommandExec]))
      assert(writes.size == 3, s"${plans.size} plans, ${writes.size} writes")
      plans.foreach(p => assert(!nodes(p).exists(_.isInstanceOf[LocalCollectExec]), p))
      // a write plan handed to the rule directly comes back unchanged
      writes.foreach(p => assert(CollectLocally(p) eq p))
      assert(Snapshot.read(spark, store).count() == 900)
    } finally {
      spark.listenerManager.unregister(listener)
      org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(store).getParent.toFile)
    }
  }
}
