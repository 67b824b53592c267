package perfbench

/** Order statistics for the reported timings. Percentiles use the
  * nearest-rank definition, so every reported value is one that was
  * actually measured.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val idx = math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)
    s(math.min(idx, s.length - 1))
  }

  /** The tail: the highest whole percentile, at least the median, that
    * still has ten or more samples above its rank. Returns (percentile,
    * value). Below 21 samples no percentile qualifies and the maximum is
    * returned as percentile 100.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val n = xs.length
    (99 to 50 by -1).find { p =>
      n - math.ceil(p / 100.0 * n).toInt >= 10
    } match {
      case Some(p) => (p, percentile(xs, p.toDouble))
      case None => (100, xs.max)
    }
  }
}
