package graftbench

/** Percentiles and interval arithmetic for the benchmark's reports. */
object Stats {

  /** Linear-interpolated percentile (`q` in [0, 1]) of a non-empty sample. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Samples strictly above the `q` percentile's rank in a sample of `n`. */
  def beyond(n: Int, q: Double): Int = n - math.ceil(q * n).toInt

  /** A tail percentile is reported only with at least ten samples
    * beyond it, so p90 needs 100 samples. */
  def reportable(n: Int, q: Double): Boolean = beyond(n, q) >= 10

  /** Total length of the union of half-open intervals `[start, end)`. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  /** Time inside `[start, end)` that none of `inner` covers — a span's
    * self time given its children, or a traversal's driver time given
    * its Spark jobs. Inner intervals are clipped to the outer one. */
  def uncovered(start: Long, end: Long, inner: Seq[(Long, Long)]): Long =
    (end - start) - covered(inner.map { case (s, e) => (math.max(s, start), math.min(e, end)) })
}
