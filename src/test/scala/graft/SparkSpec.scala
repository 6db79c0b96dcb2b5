package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.LocalTaskProbe

/** One shared local session for the whole test run, built the way the
  * library ships it ([[GraftSession.local]]). */
object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(8, "graft-test")

  /** `body`'s result and the Spark jobs it started. The listener bus is
    * drained before and after, so every job event posted before `body`
    * has been delivered and every one `body` posted is counted. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val sc = session.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val counter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    LocalTaskProbe.drainBus(sc)
    sc.addSparkListener(counter)
    try {
      val r = body
      LocalTaskProbe.drainBus(sc)
      (r, n.get)
    } finally sc.removeSparkListener(counter)
  }

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
