package graft

/** Dev tool: print the formatted physical plan of declared queries —
  * `Explain <sfDir> <q1,q2,...> [exec]`. With `exec`, each query RUNS
  * first and the AQE-FINAL executed plan is printed instead of the
  * static one — the only way to see which join strategy AQE actually
  * picked at that data size. The plan-audit loop the scale notes call
  * for ("explain until it's the plan you'd want") without writing a
  * throwaway main each time. */
object Explain {
  def main(args: Array[String]): Unit = {
    val (dir, names, exec) = args match {
      case Array(d, n)         => (d, n, false)
      case Array(d, n, "exec") => (d, n, true)
    }
    val spark = GraftSession.local(GraftSession.cpus, "graft-explain")
    names.split(",").foreach { q =>
      println(s"==== $q ====")
      val df = SparkEntry.query(q.trim)(spark, dir)
      if (exec) {
        // drive THIS QueryExecution (df.count() builds its own, leaving
        // the printed plan unexecuted — isFinalPlan stays false and the
        // printed strategies are the STATIC guesses, not AQE's choices;
        // the r13 zone-map probe hit the identical trap)
        df.queryExecution.toRdd.count()
        println(df.queryExecution.executedPlan.toString)
      } else df.explain("formatted")
    }
    spark.stop()
  }
}
