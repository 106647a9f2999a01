package perfbench

/** Order statistics for timing samples. Percentiles are nearest-rank:
  * the p-th percentile of n samples is the value at sorted position
  * ceil(p/100 · n), so exactly n − ceil(p/100 · n) samples lie beyond it.
  */
object Stats {

  /** Samples a tail percentile must leave beyond itself to be reported. */
  val MinBeyond = 10

  private def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  def samplesBeyond(n: Int, p: Double): Int = n - rank(n, p)

  /** Fewest samples at which percentile `p` has `beyond` samples beyond it. */
  def samplesNeeded(p: Double, beyond: Int = MinBeyond): Int =
    Iterator.from(1).find(n => samplesBeyond(n, p) >= beyond).get

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(xs.size, p) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}
