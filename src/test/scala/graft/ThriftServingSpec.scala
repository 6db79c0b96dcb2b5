package graft

import java.sql.DriverManager

import org.apache.spark.sql.hive.thriftserver.HiveThriftServer2
import org.scalatest.funsuite.AnyFunSuite

/** Boots the documented serving surface (README "Serving"): Spark's
  * Thrift JDBC server started IN-PROCESS over the library's session, the
  * library's queries exposed as views, and a real `hive-jdbc` client
  * round-trip — the evidence that the reference's HTTP endpoint family
  * (api/main.py:47-102) maps onto stock Spark serving infrastructure
  * rather than bespoke code — then a fan-in burst of parallel clients
  * that must all succeed and all get the serial answers. Views are
  * GLOBAL (global_temp) because a JDBC connection gets its own Spark
  * session; global temp views are the cross-session publication
  * mechanism.
  *
  * ONE server lifecycle for the whole suite: `HiveThriftServer2` keeps
  * static Hive state, so a second `startWithContext` in the same JVM
  * never binds — all JDBC assertions share the single boot. */
class ThriftServingSpec extends AnyFunSuite with SparkSpec {

  test("Thrift JDBC server answers library queries over hive-jdbc: " +
      "flagship view, registerViews(global) surface, aggregate + join") {
    val port = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    spark.conf.set("hive.server2.thrift.port", port.toString)
    // publish the flagship range scan exactly as a deployment would...
    SparkEntry.queries("q_range_scan")(spark, sf0001)
      .createOrReplaceGlobalTempView("q_range_scan")
    // ...and the WHOLE declared surface through the library call
    SparkEntry.registerViews(spark, sf0001, global = true)
    val published = spark.sql("SHOW VIEWS IN global_temp")
      .collect().map(_.getString(1)).toSet
    assert(SparkEntry.queries.keySet.subsetOf(published),
      s"missing views: ${SparkEntry.queries.keySet -- published}")
    val server = HiveThriftServer2.startWithContext(spark.sqlContext)
    try {
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      // the server binds asynchronously — retry the connect briefly
      def connect(user: String): java.sql.Connection = {
        var conn: java.sql.Connection = null
        var attempts = 0
        while (conn == null) {
          try conn = DriverManager.getConnection(
            s"jdbc:hive2://localhost:$port/default", user, "")
          catch {
            case e: Exception if attempts < 60 =>
              attempts += 1; Thread.sleep(500)
            case e: Exception => throw e
          }
        }
        conn
      }
      def answer(conn: java.sql.Connection, q: String): Vector[Vector[String]] = {
        val rs = conn.createStatement().executeQuery(q)
        val cols = rs.getMetaData.getColumnCount
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => (1 to cols).map(r.getString).toVector).toVector
      }
      val mix = Seq(
        // the reference's GET /query returns (timestamp, value) pairs;
        // our served row carries the scan's (event_id, ts_us, value)
        "SELECT * FROM global_temp.q_range_scan LIMIT 1",
        // a full aggregate over a served operator view — the client
        // composes SQL over the library's plan, not a canned result
        "SELECT count(*) AS n, min(bucket_us) AS first_hour " +
          "FROM global_temp.q_downsample_1h",
        // and a cross-view join, exercising two published plans at once
        "SELECT count(*) AS n FROM global_temp.q_topk_hours t " +
          "JOIN global_temp.q_downsample_1h d ON t.bucket_us = d.bucket_us")
      val conn = connect("graft")
      val serial = try mix.map(answer(conn, _)) finally conn.close()
      val Seq(scan, agg, join) = serial
      assert(scan.size == 1, "LIMIT 1 must serve exactly one row")
      assert(scan.head.size >= 3)
      assert(agg.head.head.toLong > 0, "served aggregate must see rows")
      assert(join.head.head.toLong > 0, "served cross-view join must see rows")
      // fan-in: 8 clients, each on its own connection (so its own Spark
      // session), run the mix concurrently; every answer is the serial one
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val served = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Vector[Vector[String]])]()
      val go = new java.util.concurrent.CountDownLatch(1)
      val clients = (0 until 8).map { ci =>
        new Thread(() =>
          try {
            val c = connect(s"client$ci")
            try {
              go.await()
              (0 until 6).foreach { i =>
                val q = (ci + i) % mix.size
                served.add((q, answer(c, mix(q))))
              }
            } finally c.close()
          } catch { case t: Throwable => failures.add(t) })
      }
      clients.foreach(_.start())
      go.countDown()
      clients.foreach(_.join())
      import scala.jdk.CollectionConverters._
      assert(failures.isEmpty, failures.asScala.mkString("; "))
      assert(served.size == 8 * 6, s"${served.size} of 48 answers")
      served.asScala.foreach { case (q, got) =>
        assert(got == serial(q), s"concurrent answer to ${mix(q)} differs: $got")
      }
    } finally server.stop()
  }
}
