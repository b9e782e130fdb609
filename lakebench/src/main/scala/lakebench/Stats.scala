package lakebench

/** Order statistics for op latencies. */
object Stats {
  /** Median, averaging the two middle samples of an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it.
    */
  def nearestRank(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.max(1, math.ceil(p / 100.0 * s.size).toInt) - 1)
  }

  /** The highest whole percentile that leaves at least `beyond` samples
    * above its nearest rank: with n samples, the largest p with
    * n − ceil(p·n/100) ≥ beyond. None when n ≤ beyond.
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    if (n <= beyond) None
    else (100 to 1 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= beyond)

  /** A latency tail as (label, value): the highest percentile with 10
    * samples beyond it. Below 20 samples that percentile is under the
    * median, no tail at all, and the maximum is reported, labelled `max`.
    */
  def tail(xs: Seq[Double]): (String, Double) =
    tailPercentile(xs.size).filter(_ >= 50) match {
      case Some(p) => (s"p$p", nearestRank(xs, p))
      case None    => ("max", xs.max)
    }
}
