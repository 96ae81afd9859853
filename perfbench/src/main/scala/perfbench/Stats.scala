package perfbench

import org.apache.commons.math3.distribution.BetaDistribution

/** Order statistics used by every reported latency. */
object Stats {
  def median(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.toIndexedSeq.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Harrell-Davis estimate of the `p` quantile: the mean of all order
    * statistics weighted by a Beta((n+1)p, (n+1)(1-p)) distribution.
    *
    * The latencies of one run are a few operations' clusters of samples.
    * Where the quantile falls in a gap between two clusters, the sample
    * quantile jumps from one side to the other between runs; this estimate
    * moves smoothly with the samples around it.
    */
  def harrellDavis(xs: Iterable[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.toIndexedSeq.sorted
    val n = s.length
    if (n == 1) s.head
    else {
      val beta = new BetaDistribution(null, (n + 1) * p, (n + 1) * (1 - p))
      val cdf = (0 to n).map(i => beta.cumulativeProbability(i.toDouble / n))
      s.indices.map(i => s(i) * (cdf(i + 1) - cdf(i))).sum
    }
  }

  /** A tail percentile that is only reported when it is backed by data.
    *
    * The percentile is `want` when at least `minAbove` samples sit above
    * its nearest rank ceil(want*n). Otherwise the rank drops to the highest
    * one that still has `minAbove` samples above it; when even the median
    * has fewer above it, the median is reported. `p` records the percentile
    * really used, `n` the samples, and `value` is its Harrell-Davis estimate.
    */
  final case class Tail(value: Double, p: Double, n: Int)

  def tail(xs: Iterable[Double], want: Double = 0.90, minAbove: Int = 10): Tail = {
    require(xs.nonEmpty, "percentile of no samples")
    val n = xs.size
    val rank = math.min(math.ceil(want * n).toInt, n - minAbove)
    val p = if (rank > math.ceil(0.5 * n)) rank.toDouble / n else 0.5
    Tail(harrellDavis(xs, p), p, n)
  }
}
