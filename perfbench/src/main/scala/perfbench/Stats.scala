package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Nearest-rank quantile: the smallest sample with at least p·n
    * samples at or below it.
    */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    s(rankOf(p, s.length) - 1)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** 1-based nearest rank; the epsilon keeps 0.99·1000 at rank 990. */
  private def rankOf(p: Double, n: Int): Int =
    math.max(1, math.ceil(p * n - 1e-9).toInt)

  /** Number of samples strictly beyond the p-quantile's rank. */
  def samplesBeyond(p: Double, n: Int): Int = n - rankOf(p, n)

  /** Percentiles a tail may be reported at, highest first. */
  val Ladder: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** The highest percentile with at least ten samples beyond it — the
    * only tail a run of n samples may report.
    */
  def tailPercentile(n: Int): Option[Double] =
    Ladder.find(p => samplesBeyond(p, n) >= 10)

  /** The p-quantile, or NaN when n samples cannot support it. */
  def tail(xs: Seq[Double], p: Double): Double =
    if (tailPercentile(xs.length).exists(_ >= p)) quantile(xs, p) else Double.NaN

  /** The median, or NaN when every op failed (the run still reports,
    * as incorrect).
    */
  def medianOrNaN(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else median(xs)
}
