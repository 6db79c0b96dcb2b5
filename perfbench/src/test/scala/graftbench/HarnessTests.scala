package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Tests of the harness itself (not of the engine). Run with
  * `python3 perfbench/build.py --test`; exits non-zero on any failure. */
object HarnessTests {
  private val failures = mutable.ArrayBuffer.empty[String]

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  $e"); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += name
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    percentileRule()
    selfTime()
    seriesAndMix()
    listenerAttribution()
    if (failures.nonEmpty) {
      println(s"${failures.size} failed: ${failures.mkString(", ")}")
      sys.exit(1)
    }
    println("all passed")
  }

  def percentileRule(): Unit = {
    check("p90 needs 100 samples: ten beyond it") {
      Stats.supports(0.9, 100) && !Stats.supports(0.9, 99)
    }
    check("p95 needs 200 samples, p75 needs 40") {
      Stats.supports(0.95, 200) && !Stats.supports(0.95, 199) &&
        Stats.supports(0.75, 40) && !Stats.supports(0.75, 39)
    }
    check("the median needs no tail; nothing is supported by no samples") {
      Stats.supports(0.5, 1) && !Stats.supports(0.5, 0)
    }
    check("percentiles interpolate between closest ranks") {
      val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
      close(Stats.median(xs), 3.0) && close(Stats.percentile(xs, 0.9), 4.6) &&
        close(Stats.percentile(xs, 0.0), 1.0) && close(Stats.percentile(xs, 1.0), 5.0) &&
        Stats.median(Nil).isNaN
    }
  }

  def selfTime(): Unit = {
    check("union of overlapping intervals counts shared time once") {
      close(Stats.unionLength(Seq((1.0, 4.0), (3.0, 6.0), (8.0, 9.0), (8.5, 8.7))), 6.0)
    }
    check("self time subtracts overlapping children once, clipped to the parent") {
      val spans = Seq(
        Span(0, "op", -1, 1, 0.0, 10.0),
        Span(1, "a", 0, 1, 1.0, 4.0),
        Span(2, "b", 0, 1, 3.0, 6.0),
        Span(3, "c", 0, 1, 8.0, 12.0),
        Span(4, "a.child", 1, 1, 2.0, 3.0))
      val self = Trace.selfTimes(spans)
      close(self(0), 3.0) && close(self(1), 2.0) && close(self(2), 3.0) &&
        close(self(4), 1.0)
    }
    check("tracer nests spans and a disabled tracer records nothing") {
      val t = new Tracer(true)
      t.active = true
      t.op = 7
      t.span("outer")(t.span("inner")(()))
      val off = new Tracer(false)
      off.active = true
      off.span("x")(())
      val ss = t.spans
      ss.size == 2 && ss.find(_.name == "inner").get.parent == ss.find(_.name == "outer").get.id &&
        ss.forall(_.op == 7) && off.spans.isEmpty
    }
  }

  def seriesAndMix(): Unit = {
    check("the same seed gives identical series and operation streams") {
      val a = new Series(42, 5000)
      val b = new Series(42, 5000)
      val ma = new Workloads.Mix(42, Metrics.ReadKinds)
      val mb = new Workloads.Mix(42, Metrics.ReadKinds)
      a.values.sameElements(b.values) &&
        (0 until 50).forall(_ => ma.next() == mb.next() && ma.hot() == mb.hot() &&
          ma.cold() == mb.cold() && ma.stats() == mb.stats())
    }
    check("different seeds give different series and operation streams") {
      val a = new Series(1, 5000)
      val b = new Series(2, 5000)
      val ma = new Workloads.Mix(1, Metrics.ReadKinds)
      val mb = new Workloads.Mix(2, Metrics.ReadKinds)
      !a.values.sameElements(b.values) &&
        (0 until 50).map(_ => (ma.next(), ma.hot())) != (0 until 50).map(_ => (mb.next(), mb.hot()))
    }
    check("a longer series extends a shorter one with the same seed") {
      new Series(3, 7200).values.take(3600).sameElements(new Series(3, 3600).values)
    }
    check("series follows the reference generator within its noise") {
      val s = new Series(9, 1000)
      s.values.indices.forall(i =>
        math.abs(s.values(i) - (50.0 + 20.0 * math.sin(i / 100.0))) <= 1.0) &&
        s.ts(1) - s.ts(0) == 1000L && s.ts(0) % Series.HourMs == 0
    }
    check("closed-form ranges are inclusive and clipped to the visible prefix") {
      val s = new Series(1, 100)
      val t0 = Series.T0
      s.indices(t0, t0 + 999, 100) == ((0, 1)) &&
        s.indices(t0 + 1, t0 + 1000, 100) == ((1, 2)) &&
        s.indices(t0 - 5000, t0 + 2000, 100) == ((0, 3)) &&
        s.indices(t0, t0 + 1000000, 50) == ((0, 50)) &&
        s.indices(t0 + 200000, t0 + 300000, 100) == ((100, 100)) &&
        s.stats(t0, t0 + 2000, 100) ==
          ((3L, s.values.take(3).min, s.values.take(3).max))
    }
    check("operation kinds and stats start hours come in blocks holding each once") {
      val m = new Workloads.Mix(5, Metrics.ReadKinds)
      val starts = Workloads.StoreHours - Workloads.StatsHours
      (0 until 30).map(_ => m.next()).grouped(3).forall(_.sorted == Metrics.ReadKinds.sorted) &&
        (0 until 5 * starts).map(_ => (m.stats()._1 - Series.T0) / Series.HourMs)
          .grouped(starts).forall(_.sorted == (0L until starts.toLong))
    }
    check("windows stay inside the regions the workloads name") {
      import Workloads.{OldHours, StoreHours}
      val m = new Workloads.Mix(6, Nil)
      val H = Series.HourMs
      val t0 = Series.T0
      (0 until 200).forall { _ =>
        val (hs, he) = m.hot()
        val (cs, ce) = m.cold()
        val (ss, se) = m.stats()
        hs >= t0 + OldHours * H && he < t0 + StoreHours * H && he - hs == H - 1 &&
          cs >= t0 && ce < t0 + OldHours * H && (ce - cs) / 1000 + 1 > Store.Cap &&
          ss % H != 0 && ss >= t0 && se < t0 + StoreHours * H && (se + 1) % H != 0
      }
    }
  }

  def listenerAttribution(): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("harness-test")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val sc = spark.sparkContext
      sc.setLogLevel("ERROR")
      val l = new OpListener
      sc.addSparkListener(l)
      def tagged[A](op: String, phase: String)(body: => A): A = {
        sc.setLocalProperty(OpListener.OpKey, op)
        sc.setLocalProperty(OpListener.PhaseKey, phase)
        try body finally {
          sc.setLocalProperty(OpListener.OpKey, null)
          sc.setLocalProperty(OpListener.PhaseKey, null)
        }
      }
      tagged("7", "exec")(sc.parallelize(1 to 100, 3).map(_ * 2).count())
      sc.parallelize(1 to 100, 2).count() // untagged: ignored
      tagged("8", "build")(
        sc.parallelize(1 to 100, 4).map(i => (i % 5, 1)).reduceByKey(_ + _, 2).collect())
      tagged("9", "exec") {
        try sc.parallelize(1 to 4, 2).map { i =>
          if (i == 3) throw new IllegalStateException("planted"); i
        }.collect()
        catch { case _: Exception => Array.empty[Int] }
      }
      org.apache.spark.PerfbenchBus.drain(sc)
      val jobs = l.jobs.groupBy(_.op)
      check("jobs are attributed to the operation id their thread carried") {
        jobs.keySet == Set(7L, 8L, 9L) && jobs(7L).forall(_.phase == "exec") &&
          jobs(8L).forall(_.phase == "build")
      }
      check("stages and tasks are attributed through their job") {
        jobs(7L).map(j => (j.stages, j.tasks, j.tasksFailed)) == Seq((1, 3, 0)) &&
          jobs(8L).map(j => (j.stages, j.tasks, j.tasksFailed)) == Seq((2, 6, 0)) &&
          jobs(8L).forall(j => j.endMs >= j.startMs && j.cpuNs > 0 && j.shuffleWriteBytes > 0)
      }
      check("a failing job and its failed tasks are recorded, not dropped") {
        jobs(9L).size == 1 && jobs(9L).map(_.tasksFailed).sum >= 1 && jobs(9L).forall(_.endMs >= 0)
      }
    } finally spark.stop()
  }
}
