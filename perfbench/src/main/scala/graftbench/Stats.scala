package graftbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** Linear-interpolated percentile `p` (0..100) of `xs`; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p / 100.0 * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** The percentiles a tail is reported at, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50)

  /** The highest percentile in [[TailCandidates]] that still has at
    * least `beyond` samples above it in a sample of `n`, or None when
    * even the median has fewer. A tail read from fewer samples than
    * that is one or two outliers, not a distribution.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    TailCandidates.find(p => n * (100.0 - p) / 100.0 >= beyond - 1e-9)

  /** The smallest sample with at least `beyond` samples above percentile `p`. */
  def samplesFor(p: Double, beyond: Int = 10): Int =
    math.ceil(beyond * 100.0 / (100.0 - p) - 1e-9).toInt
}
