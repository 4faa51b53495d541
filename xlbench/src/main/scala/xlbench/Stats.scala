package xlbench

/** Order statistics the benchmark reports. Percentiles are nearest-rank:
  * the value at 1-based rank ceil(p/100 · n) of the sorted samples. */
object Stats {

  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s((math.ceil(p / 100.0 * s.size).toInt max 1) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Candidate tail percentiles, highest first. */
  val TailLadder: Seq[Int] = Seq(90, 75, 50)

  /** Samples strictly beyond the nearest rank of percentile `p` in `n`. */
  def beyond(n: Int, p: Int): Int = n - (math.ceil(p / 100.0 * n).toInt max 1)

  /** The highest ladder percentile with at least 10 samples beyond it, so
    * the reported tail is never a single outlier; p50 below 20 samples. */
  def tailPercentile(n: Int): Int =
    TailLadder.find(p => beyond(n, p) >= 10).getOrElse(50)
}
