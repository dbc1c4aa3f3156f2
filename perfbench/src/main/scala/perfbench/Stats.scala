package perfbench

import org.apache.commons.math3.special.Beta

/** Order statistics for timing samples. */
object Stats {

  /** Nearest-rank percentile: the smallest sample such that at least
    * `p` of all samples are at or below it. */
  def percentile(samples: Seq[Double], p: Double): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile rank $p outside (0, 1]")
    val sorted = samples.sorted
    sorted(math.max(0, math.ceil(p * sorted.size).toInt - 1))
  }

  def median(samples: Seq[Double]): Double = percentile(samples, 0.5)

  /** Harrell–Davis estimate of the `p` quantile: a weighted mean of all
    * order statistics, with weights from the Beta(p(n+1), (1-p)(n+1))
    * distribution. A run's samples mix queries whose latencies sit in
    * clusters with gaps between them; the single sample at a nearest
    * rank then jumps from cluster to cluster between runs, while this
    * weighted mean moves smoothly. */
  def quantile(samples: Seq[Double], p: Double): Double = {
    require(samples.nonEmpty, "quantile of no samples")
    require(p > 0 && p < 1, s"quantile rank $p outside (0, 1)")
    val sorted = samples.sorted
    val n = sorted.size
    val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
    val cdf = (0 to n).map(i => Beta.regularizedBeta(i.toDouble / n, a, b))
    sorted.indices.map(i => (cdf(i + 1) - cdf(i)) * sorted(i)).sum
  }

  /** For reporting: a run whose every operation failed still prints its
    * metrics, as 0. */
  def quantileOrZero(samples: Seq[Double], p: Double): Double =
    if (samples.isEmpty) 0.0 else quantile(samples, p)

  /** How many samples lie strictly above rank `p`: the tail a percentile
    * rests on. Ten of them need 100 samples for a p90, 50 for a p80. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p * n).toInt

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
