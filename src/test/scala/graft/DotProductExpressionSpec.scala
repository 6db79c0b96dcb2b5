package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{DotProduct, GraftFunctions}
import graft.sources.Tables

/** The native codegen'd DotProduct must be bit-identical to the
  * interpreted higher-order-function fold, from Scala and from SQL. */
class DotProductExpressionSpec extends AnyFunSuite with SparkSpec {

  private def emb = Tables.embeddings(spark, sf0001)
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  test("native dot product equals the aggregate/zip_with fold bit-for-bit") {
    val both = emb.select(
      GraftFunctions.dot_product(col("v"), col("v")).as("native"),
      aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("folded"))
    assert(both.filter(col("native") =!= col("folded")).count() == 0)
  }

  test("graft_dot is callable from SQL after registration") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    emb.createOrReplaceTempView("emb_view")
    val viaSql = spark.sql(
      "SELECT vec_id, graft_dot(v, v) AS d FROM emb_view ORDER BY vec_id")
    val viaCol = emb.select(col("vec_id"),
      GraftFunctions.dot_product(col("v"), col("v")).as("d")).orderBy("vec_id")
    assert(viaSql.exceptAll(viaCol).count() == 0)
    assert(viaSql.count() == emb.count())
  }

  test("extension class registers the function identifier") {
    assert(new graft.functions.GraftExtensions() != null)
  }

  test("fused cosine equals the composed dot/sqrt form bit-for-bit") {
    // the shipped session would fuse the composed column too; exclude the
    // rule so the composed form really runs as dot/sqrt
    spark.conf.set("spark.sql.optimizer.excludedRules",
      graft.functions.FuseCosine.ruleName)
    try {
      val e2 = Tables.embeddings(spark, sf0001)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val q = e2.filter(col("vec_id") === 7L).select(col("v").as("qv"))
      val both = e2.crossJoin(q).select(
        GraftFunctions.cosine_similarity(col("v"), col("qv")).as("fused"),
        (GraftFunctions.dot_product(col("v"), col("qv")) /
          (sqrt(GraftFunctions.dot_product(col("v"), col("v"))) *
            sqrt(GraftFunctions.dot_product(col("qv"), col("qv"))))).as("composed"))
      val cosines = both.queryExecution.optimizedPlan.flatMap(_.expressions
        .flatMap(_.collect { case c: graft.functions.CosineSimilarity => c }))
      assert(cosines.size == 1, "the composed column was fused")
      assert(both.filter(col("fused") =!= col("composed")).count() == 0)
      assert(both.count() > 0)
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("FuseCosine optimizer rule rewrites the composed pattern to graft_cosine") {
    val df = emb.select(
      (GraftFunctions.dot_product(col("v"), col("v")) /
        (sqrt(GraftFunctions.dot_product(col("v"), col("v"))) *
          sqrt(GraftFunctions.dot_product(col("v"), col("v"))))).as("c"))
    val fused = df.queryExecution.optimizedPlan.expressions.exists(_.collect {
      case _: graft.functions.CosineSimilarity => true
    }.nonEmpty)
    assert(fused, df.queryExecution.optimizedPlan.toString)
    // and the rewrite does not change values (cos(v,v) for all rows)
    val composed = (GraftFunctions.dot_product(col("v"), col("v")) /
      (sqrt(GraftFunctions.dot_product(col("v"), col("v"))) *
        sqrt(GraftFunctions.dot_product(col("v"), col("v"))))).as("c")
    assert(df.exceptAll(emb.select(composed)).count() == 0)
  }

  test("literal-literal dots constant-fold out of the per-row plan") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val l = GraftFunctions.dot_product(
      typedLit(Seq(1.0, 2.0)), typedLit(Seq(3.0, 4.0)))
    val folded = emb.select(l.as("d")).queryExecution.optimizedPlan
      .expressions.flatMap(_.collect { case lit: Literal => lit })
    // after ConstantFolding the projection carries the literal 11.0, not a
    // DotProduct call
    assert(folded.exists(_.value == 11.0), folded.mkString(","))
  }
}
