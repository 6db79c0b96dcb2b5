package graft

import java.sql.DriverManager
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import org.apache.spark.sql.hive.thriftserver.HiveThriftServer2

/** Dev-only concurrent-serving probe: boots the documented Thrift JDBC
  * surface (the ThriftServingSpec lifecycle) over the declared views and
  * drives it with N PARALLEL hive-jdbc clients on a FAIR scheduler —
  * p50/p95/p99 per concurrency level, the "how does the serving tier
  * degrade under fan-in" number a deployment sizes against.
  *
  * Mixed workload per client, round-robin: a point-ish LIMIT read off
  * the flagship scan view, an aggregate over a windowed view, and a
  * cross-view join — the three shapes the spec proves once, here under
  * contention. Usage: `ServingConcurrencyProbe [sfDir] [queriesPerClient]`
  * (defaults /root/testdata/sf0.01, 20), levels 1,2,4,8,16.
  */
object ServingConcurrencyProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val perClient = args.lift(1).map(_.toInt).getOrElse(20)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.localBuilder(cpus, "serving-concurrency-probe")
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val port = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    spark.conf.set("hive.server2.thrift.port", port.toString)
    SparkEntry.registerViews(spark, sfDir, global = true)
    val server = HiveThriftServer2.startWithContext(spark.sqlContext)
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    val url = s"jdbc:hive2://localhost:$port/default"
    // wait for the async bind
    var warm: java.sql.Connection = null
    var attempts = 0
    while (warm == null) {
      try warm = DriverManager.getConnection(url, "graft", "")
      catch { case _: Exception if attempts < 120 =>
        attempts += 1; Thread.sleep(500) }
    }
    val mix = Seq(
      "SELECT * FROM global_temp.q_range_scan LIMIT 10",
      "SELECT count(*) AS n, min(bucket_us) AS h FROM global_temp.q_downsample_1h",
      "SELECT count(*) AS n FROM global_temp.q_topk_hours t " +
        "JOIN global_temp.q_downsample_1h d ON t.bucket_us = d.bucket_us")
    // warm each plan once so levels compare steady-state serving
    val wst = warm.createStatement()
    mix.foreach { q => val rs = wst.executeQuery(q); while (rs.next()) () }
    warm.close()

    println("clients  queries  wall_s  qps  p50_ms  p95_ms  p99_ms  max_ms")
    Seq(1, 2, 4, 8, 16).foreach { c =>
      val lat = new ConcurrentLinkedQueue[Long]()
      val ready = new CountDownLatch(c)
      val go = new CountDownLatch(1)
      val failures = new ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until c).map { ci =>
        new Thread(() => {
          // always count down `ready` (finally), else a connect/query
          // failure hangs the main thread's ready.await() forever or
          // silently shrinks the percentile sample
          try {
            val conn = DriverManager.getConnection(url, s"client$ci", "")
            val st = conn.createStatement()
            ready.countDown(); go.await()
            (0 until perClient).foreach { i =>
              val q = mix((ci + i) % mix.size)
              val t0 = System.nanoTime()
              val rs = st.executeQuery(q)
              while (rs.next()) ()
              lat.add((System.nanoTime() - t0) / 1000000L)
            }
            conn.close()
          } catch {
            case t: Throwable => failures.add(t); ready.countDown()
          }
        })
      }
      threads.foreach(_.start()); ready.await()
      val t0 = System.nanoTime(); go.countDown()
      threads.foreach(_.join())
      val wall = (System.nanoTime() - t0) / 1e9
      failures.forEach(t => println(s"CLIENT FAILURE: $t"))
      val xs = lat.toArray(Array.empty[java.lang.Long]).map(_.toLong).sorted
      assert(xs.length == c * perClient,
        s"missing samples: ${xs.length} of ${c * perClient} " +
          s"(${failures.size} client failures)")
      def pct(p: Double) = xs(math.min(xs.length - 1, (p * xs.length).toInt))
      println(f"$c%7d ${xs.length}%8d $wall%7.1f ${xs.length / wall}%4.1f " +
        f"${pct(0.50)}%7d ${pct(0.95)}%7d ${pct(0.99)}%7d ${xs.last}%7d")
    }
    server.stop()
    spark.stop()
  }
}
