package graftbench

import graft.model.DataPoint

/** The reference benchmark's series (`benchmark.py:63-66`): point `i` sits
  * at `T0 + i` seconds with value `50 + 20·sin(i/100) + U(−1, 1)`, the
  * noise drawn from `seed`. The whole series stays in memory, so every
  * answer the engine gives can be checked in closed form. */
final class Series(val seed: Long, val n: Int) {
  import Series._

  val values: Array[Double] = {
    val rng = new java.util.SplittableRandom(seed)
    Array.tabulate(n)(i =>
      50.0 + 20.0 * math.sin(i / 100.0) + (rng.nextDouble() * 2.0 - 1.0))
  }

  def ts(i: Int): Long = T0 + i * StepMs

  def points(from: Int, until: Int): Seq[DataPoint] =
    (from until until).map(i => DataPoint(ts(i), values(i)))

  /** Index range `[lo, hi)` of the points with a timestamp in the inclusive
    * range `[startMs, endMs]`, among the first `visible` points. */
  def indices(startMs: Long, endMs: Long, visible: Int): (Int, Int) = {
    val lo = math.max(0L, Math.floorDiv(startMs - T0 + StepMs - 1, StepMs))
    val hi = math.max(0L, Math.floorDiv(endMs - T0, StepMs) + 1)
    val l = math.min(lo, visible.toLong).toInt
    (l, math.max(l, math.min(hi, visible.toLong).toInt))
  }

  /** `(count, min, max)` of the values in `[startMs, endMs]`. */
  def stats(startMs: Long, endMs: Long, visible: Int): (Long, Double, Double) = {
    val (lo, hi) = indices(startMs, endMs, visible)
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    var i = lo
    while (i < hi) { mn = math.min(mn, values(i)); mx = math.max(mx, values(i)); i += 1 }
    (hi - lo, mn, mx)
  }
}

object Series {
  /** First timestamp: an hour boundary, so shard hours line up with the
    * store layout. */
  val T0: Long = 1700002800000L
  val StepMs: Long = 1000L
  val HourMs: Long = 3600000L

  def hourOf(tsMs: Long): Long = Math.floorDiv(tsMs, HourMs)
}
