package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run, built the way the
  * library ships it ([[GraftSession.local]]). */
object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(8, "graft-test")

  /** A session with none of the graft extensions or confs beyond UTC —
    * the control for specs that show what the shipped session changes.
    * It shares the test SparkContext; the shared session stays the
    * active and default one. */
  def bareSession(): SparkSession = {
    val shared = session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}

trait SparkSpec {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
}
