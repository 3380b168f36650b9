package perfbench

/** Order statistics as the benchmark reports them. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least `beyond` samples above it,
    * as (percentile, value); None with `beyond` samples or fewer. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] =
    if (xs.size <= beyond) None
    else {
      val s = xs.sorted
      val n = s.size
      Some((100 * (n - beyond) / n, s(n - beyond - 1)))
    }

  /** "p<pct> <value> s of <n>", or a note that there are too few samples. */
  def tailText(xs: Seq[Double]): String = tail(xs) match {
    case Some((p, v)) => f"$v%.4f s (p$p of ${xs.size}, 10 samples beyond it)"
    case None => s"n/a (${xs.size} samples; a tail needs more than 10)"
  }
}
