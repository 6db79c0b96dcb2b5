package graft

/** Dev-only isolated per-query probe: `Probe <sfDir> <reps> <q1,q2,…>`.
  * Runs each named [[SparkEntry.queries]] entry `reps` times in a fresh
  * warmed session and prints median/min/max — the only trustworthy
  * per-query signal on this throttling-prone host (round-5 evidence:
  * identical code measured 12× apart in back-to-back bench runs). */
object Probe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, repsS, names) = args
    val reps = repsS.toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // A/B knob for partition-count experiments (defaults to cores, the
    // Bench convention): SPARK_GRAFT_SHUFFLE_PARTITIONS=256
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = GraftSession.local(cpus.toInt, "graft-probe")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
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
      val times = (0 until reps).map { _ =>
        // release only the rep's OWN leftovers (snapshot/delta, same
        // discipline as Bench) — reps share nothing, and pinned
        // leftovers at sf10 OOM the session before rep 2
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val t0 = System.nanoTime()
        // toRdd.count(): honest full-column evaluation, same as Bench
        // (Dataset.count() would let Catalyst prune bare projections)
        rows = fn(spark, sfDir).queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs
          .foreach { case (id, rdd) =>
            if (!before.contains(id)) rdd.unpersist(blocking = false) }
        dt
      }.sorted
      println(f"PROBE $name%-24s median=${times(times.size / 2)}%.3f " +
        f"min=${times.head}%.3f max=${times.last}%.3f reps=$reps rows=$rows")
    }
    spark.stop()
  }
}
