package perfbench

/** Latency summaries. A percentile is reported only when at least
  * [[TailSamples]] samples lie beyond it, so a p90 needs 100 samples and
  * a p99 1000; the median is always reported.
  */
object Stats {
  val TailSamples = 10

  /** Nearest-rank percentile (`q` in 0..100) of unsorted samples. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(q / 100.0 * s.size).toInt
    s(math.min(s.size, math.max(1, rank)) - 1)
  }

  /** Median; the mean of the two middle samples when the count is even. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The median latency of an op kind whose ops come in variants
    * (predicate kinds, ...): the geometric mean of each variant's
    * median, so every variant weighs the same however the samples split.
    */
  def variantMedian(samples: Seq[(String, Double)]): Double =
    geomean(samples.groupBy(_._1).values.map(v => median(v.map(_._2))).toSeq)

  /** Whether `q` may be reported from `n` samples: the median always,
    * a tail percentile only with [[TailSamples]] samples beyond it.
    */
  def reportable(q: Int, n: Int): Boolean =
    n > 0 && (q == 50 || n * (100 - q) >= TailSamples * 100)

  /** The percentiles (of 50, 90, 99) `n` samples can support. */
  def reportablePercentiles(n: Int): Seq[Int] =
    Seq(50, 90, 99).filter(reportable(_, n))
}
