package graft

import graft.operators.Materialize

/** Dev-only isolated per-query probe: `Probe <sfDir> <reps> <q1,q2,…>`.
  * Runs each named [[SparkEntry.queries]] entry `reps` times in a fresh
  * warmed session and prints median/min/max — the only trustworthy
  * per-query signal on this throttling-prone host (round-5 evidence:
  * identical code measured 12× apart in back-to-back bench runs). */
object Probe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, repsS, names) = args
    val reps = repsS.toInt
    // shuffle partitions = cores (GraftSession), the Bench convention
    val spark = GraftSession.local(GraftSession.cpus, "graft-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    try graft.sources.Tables.events(spark, sfDir).count()
    catch { case _: Throwable => () }
    // "__order__" prints the bench Map-iteration order and exits — used to
    // reproduce bench-context anomalies (a query can measure 5× slower in
    // the bench than isolated purely from what ran before it).
    if (names == "__order__") {
      SparkEntry.queries.keys.zipWithIndex.foreach { case (k, i) =>
        println(s"ORDER $i $k")
      }
      spark.stop(); return
    }
    names.split(',').foreach { name =>
      val fn = SparkEntry.query(name)
      var rows = -1L
      // release each rep's OWN leftover cuts (as Bench does) — reps
      // share nothing, and pinned leftovers at sf10 OOM the session
      // before rep 2
      val times = (0 until reps).map { _ =>
        Materialize.releasingNew(spark) {
          val t0 = System.nanoTime()
          // toRdd.count(): honest full-column evaluation, same as Bench
          // (Dataset.count() would let Catalyst prune bare projections)
          rows = fn(spark, sfDir).queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        }
      }.sorted
      println(f"PROBE $name%-24s median=${times(times.size / 2)}%.3f " +
        f"min=${times.head}%.3f max=${times.last}%.3f reps=$reps rows=$rows")
    }
    spark.stop()
  }
}
