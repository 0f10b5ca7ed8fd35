package graftbench

object Stats {
  /** Linear-interpolated percentile, q in [0, 100]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.size - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Geometric mean of positive values: each weighs the same whatever its
    * size, so one slow kind of operation does not set the figure alone.
    */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The highest of the standard percentiles that has at least ten samples
    * above it, so a reported tail is never one or two outliers.
    */
  def supportedTail(n: Int): Int =
    Seq(99, 95, 90, 75, 50).find(p => n * (100 - p) / 100 >= 10).getOrElse(50)
}

/** A metric as printed on the result line. */
final case class Metric(name: String, value: Double, unit: String)
