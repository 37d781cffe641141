package perfbench

/** Order statistics used by every reported timing. */
object Stats {

  /** Tail percentiles the benchmark may report, highest first. */
  val Ladder: Seq[Double] = Seq(99.0, 95.0, 90.0, 75.0, 50.0)

  /** A reported percentile: which one, its value, and the sample count. */
  final case class Pct(pct: Double, value: Double, n: Int, supported: Boolean)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted.toIndexedSeq
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    s(rank(s.length, p) - 1)
  }

  private def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))

  /** Samples strictly beyond the nearest-rank p-th percentile of n samples. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /**
   * The highest percentile of `ladder` that has at least `minBeyond` samples
   * beyond it, with the sample count. With too few samples for any rung the
   * median is returned and flagged unsupported, so a thin run is visible
   * rather than silently reported as a tail.
   */
  def tail(xs: Seq[Double], ladder: Seq[Double] = Ladder, minBeyond: Int = 10): Pct = {
    val n = xs.length
    ladder.find(p => beyond(n, p) >= minBeyond) match {
      case Some(p) => Pct(p, percentile(xs, p), n, supported = true)
      case None => Pct(50.0, if (n == 0) Double.NaN else percentile(xs, 50.0), n,
        supported = false)
    }
  }
}
