package perfbench

/** Order statistics used by every report: nearest-rank percentiles, the
  * tail rule, and medians. */
object Stats {

  /** Nearest-rank percentile of an ascending-sorted sample: the value of
    * rank `ceil(p/100 * n)` (1-based). */
  def rankOf(p: Double, n: Int): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  def percentile(sorted: IndexedSeq[Double], p: Double): Double =
    sorted(rankOf(p, sorted.size) - 1)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Traced against untraced median of the same operation, in percent. */
  def overheadPct(traced: Seq[Double], bare: Seq[Double]): Double =
    if (traced.isEmpty || bare.isEmpty) 0.0
    else (median(traced) / median(bare) - 1.0) * 100.0

  /** The percentiles a tail may be reported at, highest last. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9, 99.99)

  /** A tail: percentile `p` of `n` samples, at nearest rank `rank`. */
  final case class Tail(p: Double, value: Double, rank: Int, n: Int) {
    def describe(unit: String): String =
      f"p$p%s = $value%.3f $unit (rank $rank of $n samples, ${n - rank} beyond)"
  }

  /** The highest ladder percentile with at least `beyond` samples ranked
    * above it; None when even the median has fewer (n < 2 * beyond). */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    Ladder.filter(p => n > 0 && n - rankOf(p, n) >= beyond).lastOption
      .map(p => Tail(p, percentile(s, p), rankOf(p, n), n))
  }
}
