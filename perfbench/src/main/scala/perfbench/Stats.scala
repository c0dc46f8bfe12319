package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest of the usual percentiles that has at least `beyond`
    * samples above it: p is supported by n samples when
    * n * (1 - p/100) >= beyond. None when even p50 is not supported.
    */
  def supportedPercentile(n: Int, beyond: Int = 10): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (100.0 - p) / 100.0 >= beyond - 1e-9)

  /** Nearest-rank percentile (the smallest sample with at least p% of the
    * samples at or below it).
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.min(math.max(rank, 1), s.length) - 1)
  }

  /** Median plus the highest percentile the sample count supports, as one
    * printable summary ("p50=1.2 n=3; no higher percentile: needs >= 10
    * samples beyond it").
    */
  def describe(xs: Seq[Double]): String = {
    val base = f"p50=${median(xs)}%.4f n=${xs.length}"
    supportedPercentile(xs.length) match {
      case Some(p) if p > 50.0 => f"$base p$p%.1f=${percentile(xs, p)}%.4f"
      case _ => s"$base (no higher percentile: needs >= 10 samples beyond it)"
    }
  }
}
