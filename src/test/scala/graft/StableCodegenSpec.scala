package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Add, And, Cast, GreaterThan, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model.DataPoint
import graft.operators.{Ingest, Snapshot}
import graft.plans.{ReferenceLiterals, ReferencedLiteral, StableCodegen}

/** Serving reads reuse compiled code across fresh bounds. On a snapshot
  * store built the way the serving benchmark builds one (a bulk-loaded,
  * compacted and vacuumed history plus micro-batch files), repeated
  * `hot`/`cold` range scans and `rangeStats` aggregates with new bounds
  * compile NOTHING once one read of each kind has run — under the
  * session the library ships ([[GraftSession.local]]), whose
  * [[graft.plans.StableCodegen]] rule moves per-read constants out of the
  * generated source. Answers stay bit-identical to a session without the
  * rule (the shared bare test session), at the `Long` extremes, over
  * files holding ±0.0 and NaN, and with `Int`/`Double` constants. */
class StableCodegenSpec extends AnyFunSuite with SparkSpec with BeforeAndAfterAll {

  private val hourMs = 3600000L
  private val t0 = 1700002800000L // an hour boundary
  private val batch = 1800
  private val cap = 10000

  /** The reference benchmark's series, with a -0.0, a +0.0 and a NaN
    * planted in the micro-batch hours (each lands in its own file). */
  private def value(i: Int): Double = i match {
    case 9000 => -0.0
    case 9500 => 0.0
    case 11000 => Double.NaN
    case _ => 50.0 + 20.0 * math.sin(i / 100.0) + ((i * 7919) % 200 - 100) / 100.0
  }
  private def ds(from: Int, until: Int): Dataset[DataPoint] =
    shipped.createDataset((from until until).map(i => DataPoint(t0 + i * 1000L, value(i))))(
      Encoders.product[DataPoint])

  /** The shared test session, built with [[GraftSession.local]], and one
    * built with no extensions — the answers the rule must reproduce. */
  private var shipped: SparkSession = _
  private var plain: SparkSession = _
  private var root: String = _
  private var committer: Snapshot.Committer = _
  private var visible = 0
  private var batchId = 0L

  private def microBatch(): Unit = {
    committer.ingestOnce(ds(visible, visible + batch), "spec", batchId)
    visible += batch
    batchId += 1
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    shipped = spark
    plain = SparkSpec.bareSession()
    assert(shipped.sessionState.columnarRules.contains(StableCodegen))
    assert(!plain.sessionState.columnarRules.contains(StableCodegen))
    root = Files.createTempDirectory("stable-codegen").toString + "/store"
    committer = Snapshot.committer(shipped, root)
    // two history hours in one commit, compacted per hour and vacuumed
    committer.ingest(ds(0, 2 * 3600))
    visible = 2 * 3600
    Seq(0L, 1L).foreach(h => Snapshot.compactShard(shipped, root, t0 / hourMs + h))
    Snapshot.vacuum(shipped, root)
    committer.refresh()
    // the newer hours arrive as micro-batch files
    while (visible < 3 * 3600) microBatch()
  }

  override def afterAll(): Unit = {
    if (root != null) org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(root).getParentFile)
    super.afterAll()
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def read(s: SparkSession, kind: String, lo: Long, hi: Long): DataFrame =
    if (kind == "stats") Snapshot.rangeStats(s, root, lo, hi)
    else Ingest.queryRange(Snapshot.readWithGen(s, root)._2, lo, hi, cap)

  /** Rows as comparable values: doubles by their raw bits, so -0.0 and
    * +0.0 differ and every NaN compares by payload. */
  private def bits(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq.map {
    case d: Double => ("double", java.lang.Double.doubleToRawLongBits(d))
    case v => v
  })

  /** Windows of each kind with fresh bounds: hot = one hour starting in
    * the second hour, cold = three hours from the compacted start (the
    * row cap binds), stats = three hours with edges inside hours. */
  private def window(kind: String, k: Int): (Long, Long) = kind match {
    case "hot" =>
      val s = t0 + hourMs + (k * 137 % 3600) * 1000L
      (s, s + hourMs - 1)
    case "cold" =>
      val s = t0 + (k * 211 % 3600) * 1000L
      (s, s + 3 * hourMs - 1)
    case _ =>
      val s = t0 + (1 + k * 97 % 3598) * 1000L
      (s, s + 3 * hourMs - 1)
  }

  private val kinds = Seq("hot", "cold", "stats")
  /** Newest-three-hours stats windows as the ingest loop reads them. */
  private def newest(): (Long, Long) = {
    val e = t0 + (visible - 1) * 1000L
    (e - 3 * hourMs + 1, e)
  }

  test("repeated hot/cold/rangeStats reads with fresh bounds compile nothing") {
    // one warm read of each kind, the newest-hours stats shape included
    kinds.foreach { k => val (lo, hi) = window(k, 0); read(shipped, k, lo, hi).collect() }
    val (nlo, nhi) = newest()
    read(shipped, "stats", nlo, nhi).collect()

    // each read is repeated at once on a session without the rule: the
    // same answer, paid for with fresh compiles; compiles per kind as
    // (reads, with the rule, without)
    val perKind = scala.collection.mutable.Map.empty[String, (Int, Long, Long)]
    (1 to 20).foreach { k =>
      val (kind, (lo, hi)) =
        if (k % 4 == 0) {
          // a new micro-batch changes which files the metadata answers
          microBatch()
          ("stats", newest())
        } else (kinds(k % 3), window(kinds(k % 3), k))
      val c0 = compiles
      val rows = read(shipped, kind, lo, hi).collect()
      val c1 = compiles
      val want = read(plain, kind, lo, hi).collect()
      val (n, w, wo) = perKind.getOrElse(kind, (0, 0L, 0L))
      perKind(kind) = (n + 1, w + c1 - c0, wo + compiles - c1)
      assert(bits(rows) == bits(want), s"$kind [$lo, $hi]")
    }
    perKind.toSeq.sortBy(_._1).foreach { case (kind, (n, w, wo)) =>
      info(f"$kind: $n reads, codegen compiles per read ${w.toDouble / n}%.2f with the " +
        f"rule, ${wo.toDouble / n}%.2f without")
      assert(w == 0, s"$w codegen compiles over $n repeated $kind reads")
      assert(wo >= n, s"only $wo compiles over $n $kind reads without the rule")
    }
  }

  test("bit-identical answers at the Long extremes, over ±0.0 and NaN files") {
    def at(i: Int): Long = t0 + i * 1000L
    val windows = Seq((Long.MinValue, Long.MaxValue), (Long.MinValue, at(9500)),
      (at(9000), Long.MaxValue), (at(8999), at(9001)), (at(9400), at(11100)))
    for ((lo, hi) <- windows; kind <- kinds) {
      val got = read(shipped, kind, lo, hi).collect()
      assert(bits(got) == bits(read(plain, kind, lo, hi).collect()), s"$kind [$lo, $hi]")
    }
    // the planted values reach the answers compared above
    val planted = read(shipped, "hot", at(9000), at(11000)).collect().map(_.getDouble(1))
    def raw(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    assert(raw(planted.head) == raw(-0.0) && planted.exists(raw(_) == raw(0.0)) &&
      planted.last.isNaN)
  }

  test("Int and Double constants: replaced, bit-identical, and no recompiles") {
    def q(s: SparkSession, v: Double, m: Int, d: Double): DataFrame =
      Snapshot.read(s, root)
        .filter(col("value") > v && (col("timestamp") % 1000L).cast("int") + m > 2)
        .select(col("timestamp") - lit(t0), col("value") * d, col("value") / d,
          least(col("value"), lit(v)), greatest(col("value"), lit(d)))
        .orderBy(col("timestamp"))
    val first = q(shipped, 55.5, 3, 2.0)
    first.collect()
    val stable = all(first.queryExecution.executedPlan).flatMap(_.expressions.flatMap(
      _.collect { case r: ReferencedLiteral => r.literal.dataType })).toSet
    assert(stable == Set(LongType, IntegerType, DoubleType),
      s"replaced literal types: $stable")
    val c0 = compiles
    // no zero Int: the optimizer drops `x + 0`, a different plan
    val runs = Seq((40.0, 5, 3.0), (61.25, 4, 0.5), (-0.0, 3, -1.5), (0.0, 7, Double.NaN))
    val got = runs.map { case (v, m, d) => q(shipped, v, m, d).collect() }
    assert(compiles == c0, s"${compiles - c0} compiles for new constants")
    runs.zip(got).foreach { case ((v, m, d), rows) =>
      assert(bits(rows) == bits(q(plain, v, m, d).collect()), s"v=$v m=$m d=$d")
    }
  }

  test("null literals, scans and plan strings are left as they were") {
    val child = plain.range(10).queryExecution.sparkPlan
    val id = child.output.head
    val nullCmp = GreaterThan(id, Literal(null, LongType))
    val nested = GreaterThan(Add(id, Literal(1L)), Cast(Literal(2), LongType))
    val cond = And(nullCmp, nested)
    val out = ReferenceLiterals(FilterExec(cond, child)).asInstanceOf[FilterExec]
    // the null and the literal under a cast stay; the Add operand moves
    assert(out.condition.collect { case l: Literal => l.value }.toSet == Set(null, 2))
    assert(out.condition.collect { case r: ReferencedLiteral => r.literal } == Seq(Literal(1L)))
    assert(out.condition.toString == cond.toString)
    assert(out.condition.sql == cond.sql)

    // a real serving read: the scan keeps its literals, the plan prints
    // the same with and without the rule, and nothing falls back
    val (lo, hi) = window("hot", 3)
    val df = read(shipped, "hot", lo, hi)
    val planned = df.queryExecution.sparkPlan
    assert(ReferenceLiterals(planned).treeString == planned.treeString)
    df.collect()
    val nodes = all(df.queryExecution.executedPlan)
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    scans.foreach { s =>
      val filters = s.partitionFilters ++ s.dataFilters
      assert(!filters.exists(_.exists(_.isInstanceOf[ReferencedLiteral])))
      assert(filters.exists(_.exists(_.isInstanceOf[Literal])))
    }
    assert(nodes.exists(_.expressions.exists(_.exists(_.isInstanceOf[ReferencedLiteral]))))
    assert(!nodes.exists(_.expressions.exists(_.exists(_.isInstanceOf[CodegenFallback]))))
  }

  private def all(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => all(a.executedPlan)
    case q: QueryStageExec => all(q.plan)
    case other => other +: other.children.flatMap(all)
  }
}
