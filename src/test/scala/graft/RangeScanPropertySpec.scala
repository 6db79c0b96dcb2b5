package graft

import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.model.DataPoint
import graft.operators.{Ingest, Snapshot}

/** The reference's core invariant (insight.cpp:42): a range query returns
  * exactly the stored points with start <= ts <= end — property-checked over
  * seeded random point sets and random inclusive ranges (plain ScalaCheck
  * generators, deterministic seeds). */
class RangeScanPropertySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val spanMs = 12L * 3600000L // ~12 hour-shards
  private val pointGen: Gen[List[DataPoint]] = Gen.listOfN(60, for {
    ts <- Gen.chooseNum(0L, spanMs)
    v <- Gen.chooseNum(-1000.0, 1000.0)
  } yield DataPoint(ts, v))
  private val boundGen = Gen.chooseNum(0L, spanMs)

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  test("range scan returns exactly the in-range subset, in timestamp order") {
    (1 to 8).foreach { i =>
      val pts = sample(pointGen, i * 1000L)
      val a = sample(boundGen, i * 1000L + 1)
      val b = sample(boundGen, i * 1000L + 2)
      val (start, end) = (math.min(a, b), math.max(a, b))
      val dir = Files.createTempDirectory("graft_prop_").toString
      Snapshot.ingestCommitted(pts.toDS(), dir)
      val got = Ingest.queryRange(spark, dir, start, end, cap = Int.MaxValue)
        .select("timestamp", "value").as[(Long, Double)].collect().toSeq
      val want = pts.filter(p => p.timestamp >= start && p.timestamp <= end)
        .map(p => (p.timestamp, p.value)).sorted
      assert(got.sorted == want, s"case $i: range [$start,$end] mismatch")
      assert(got.map(_._1) == got.map(_._1).sorted, s"case $i: not in ts order")
    }
  }
}
