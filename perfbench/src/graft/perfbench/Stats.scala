package graft.perfbench

object Stats {
  /** Harrell-Davis quantile estimate: a Beta-weighted average of every
    * order statistic, steadier than one order statistic when a run holds a
    * dozen samples. NaN for no samples.
    */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.size < 2) xs.headOption.getOrElse(Double.NaN)
    else {
      val s = xs.sorted
      val n = s.size
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(q * (n + 1), (1 - q) * (n + 1))
      s.indices.map(i => (beta.cumulativeProbability((i + 1.0) / n) - beta.cumulativeProbability(i.toDouble / n)) * s(i)).sum
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Mean of the second half of `xs` over the mean of its first half:
    * 1.0 means the per-item cost did not move over the sequence. Halves
    * rather than the ends, so every sample counts and one slow sample (a
    * GC pause) moves the ratio little.
    */
  def growth(xs: Seq[Double]): Double = {
    val h = xs.size / 2
    xs.takeRight(h).sum / xs.take(h).sum
  }
}
