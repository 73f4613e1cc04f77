package perfbench

/** Order statistics used for every reported figure. Quartiles follow
  * Python's `statistics.quantiles(xs, n=4)` (the default "exclusive"
  * method), so the benchmark and the tools that judge it agree. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The three cut points (Q1, median, Q3) of `statistics.quantiles(xs,
    * n=4, method="exclusive")`. Needs at least two samples. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.size >= 2, "quartiles need at least two samples")
    val s = xs.sorted.toIndexedSeq
    val ld = s.size
    val m = ld + 1
    def cut(i: Int): Double = {
      val j = math.max(1, math.min(ld - 1, i * m / 4))
      val delta = i * m - j * 4
      (s(j - 1) * (4 - delta) + s(j) * delta) / 4.0
    }
    (cut(1), cut(2), cut(3))
  }

  /** The highest whole percentile that still has at least `beyond`
    * samples strictly above its rank, with its value (nearest-rank), or
    * None when there are too few samples for any percentile >= 50. A
    * tail figure read from fewer samples than that is noise. */
  def tailPercentile(xs: Seq[Double], beyond: Int = 10)
      : Option[(Int, Double)] = {
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    // nearest-rank: percentile p is the sample at rank ceil(p/100 * n);
    // `n - rank` samples lie beyond it
    (99 to 50 by -1).iterator.map { p =>
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      (p, rank)
    }.collectFirst {
      case (p, rank) if n - rank >= beyond => (p, s(rank - 1))
    }
  }
}
