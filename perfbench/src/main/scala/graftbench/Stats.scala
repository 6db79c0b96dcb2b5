package graftbench

/** Order statistics and interval arithmetic for the harness. */
object Stats {

  /** Fewest samples that must lie above a reported percentile. A tail
    * percentile read from fewer is a guess about one or two outliers. */
  val MinBeyond = 10

  /** Whether `n` samples support percentile `p` (0 < p < 1): at least
    * [[MinBeyond]] of them lie above it. The median needs no tail. */
  def supports(p: Double, n: Int): Boolean =
    n > 0 && (p <= 0.5 || n * (1.0 - p) >= MinBeyond - 1e-9)

  /** Percentile `p` by linear interpolation between closest ranks (numpy's
    * default rule). NaN for an empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Total length of the union of closed intervals `(start, end)`. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Length of `outer` not covered by any of `inner` (each clipped to
    * `outer` first): a span's self time given its children. */
  def uncovered(outer: (Double, Double), inner: Seq[(Double, Double)]): Double = {
    val (s, e) = outer
    val clipped = inner.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
    (e - s) - unionLength(clipped)
  }
}
