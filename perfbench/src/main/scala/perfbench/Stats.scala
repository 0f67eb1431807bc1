package perfbench

/** Order statistics used by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the sample at rank ceil(p/100 * n). */
  def nearestRank(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.size} samples")
    val s = xs.sorted
    s(rankOf(p, s.length) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rankOf(p: Int, n: Int): Int =
    math.max(1, math.ceil(p.toDouble * n / 100.0 - 1e-9).toInt)

  /** The tail percentile of `n` samples: the highest whole percentile
    * that leaves at least `beyond` samples above its nearest rank. With
    * fewer than `beyond + 1` samples no percentile qualifies and the
    * median stands in (p50). */
  def tailPercentile(n: Int, beyond: Int = 10): Int = {
    var p = 99
    while (p > 50 && n - rankOf(p, n) < beyond) p -= 1
    p
  }
}
