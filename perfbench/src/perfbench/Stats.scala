package perfbench

/** Percentiles reported under one rule: a timing is given as its median
  * and the highest whole percentile that has at least [[MinBeyond]]
  * samples ranked above it. */
object Stats {
  val MinBeyond = 10

  /** Nearest-rank percentile of `xs` (need not be sorted). */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val sorted = xs.sorted
    sorted(rank(sorted.size, p) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(n: Int, p: Int): Int = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Samples ranked strictly above percentile `p` of `n`. */
  def beyond(n: Int, p: Int): Int = n - rank(n, p)

  /** Highest whole percentile from 50 to 99 with at least [[MinBeyond]]
    * samples above it; `None` when even the median lacks them (fewer than
    * 20 samples). */
  def tailPercentile(n: Int): Option[Int] = (99 to 50 by -1).find(p => beyond(n, p) >= MinBeyond)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
