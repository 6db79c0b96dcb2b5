package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The pre-r15 forms of three derivations the operators now compute more
  * cheaply. Specs compare the shipped operators against them: the
  * answers must be identical by construction. */
object ReferenceForms {

  /** [[Dedup.prefixJaccardPairs]] with the window-ranked prefix
    * derivation (row_number + count over a doc_id window — a full
    * shuffle-sort of the occurrence-sized shingle table). */
  def prefixJaccardPairsWindowed(docs: DataFrame, n: Int,
      tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tNum <= tDen, s"need 0 < $tNum/$tDen <= 1")
    val minJ = tNum.toDouble / tDen
    val ex = Dedup.shingleEx(docs, n)
    val dfs = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(col("doc_id"))
    val ranked = ex.join(dfs, Seq("h"))
      .withColumn("rk", row_number().over(byDoc.orderBy(col("df"), col("h"))))
      .withColumn("sz", count(lit(1)).over(byDoc))
    val den = tNum + tDen
    val prefix = ranked
      .filter(col("rk") <=
        expr(s"sz - (($tNum * sz + ${den - 1}) div $den) + 1"))
      .select(col("doc_id"), col("h"), col("rk"), col("sz"))
    Dedup.prefixVerify(docs, n, minJ, tNum, tDen, den, prefix)
  }

  private def orderPairs(lineitem: DataFrame): DataFrame = {
    val a = lineitem.select(col("l_orderkey").as("k"), col("l_partkey").as("u"))
    val b = lineitem.select(col("l_orderkey").as("k"), col("l_partkey").as("v"))
    a.join(b, Seq("k")).filter(col("u") < col("v"))
  }

  /** [[graft.operators.Graph.partCoPurchasePairs]] as a lineitem
    * self-join. */
  def partCoPurchasePairsJoined(lineitem: DataFrame): DataFrame =
    orderPairs(lineitem).select(col("u"), col("v")).distinct()

  /** [[graft.operators.Graph.coPurchaseWeights]] as a lineitem
    * self-join. */
  def coPurchaseWeightsJoined(lineitem: DataFrame): DataFrame =
    orderPairs(lineitem)
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cnt"))
      .select(col("u"), col("v"),
        graft.model.floorDivCol(lit(1000000000000L), col("cnt")).as("w"))
}
