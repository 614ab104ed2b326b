package perfbench

/** Summary statistics for timing samples.
  *
  * The reporting rule: a timing is given as its median plus the highest
  * percentile that still has at least ten samples beyond it, with the sample
  * count beside both. A tail read from fewer than ten samples is one or two
  * outliers, not a property of the system.
  */
object Stats {

  /** Nearest-rank percentile of `xs` (0 < p <= 100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile out of range: $p")
    val sorted = xs.sorted
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    sorted(math.min(sorted.size, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Samples strictly beyond the nearest-rank `p`-th percentile of `n`. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p / 100.0 * n).toInt)

  /** The fewest samples whose `p`-th percentile has ten samples beyond it. */
  def samplesFor(p: Double): Int = Iterator.from(1).find(beyond(_, p) >= 10).get

  /** Index of the median element of `xs` (lower middle for an even count):
    * per-layer numbers are read from this one sample so that they add up.
    */
  def medianIndex(xs: Seq[Double]): Int = {
    require(xs.nonEmpty, "median of no samples")
    val order = xs.indices.sortBy(xs)
    order((xs.size - 1) / 2)
  }
}
