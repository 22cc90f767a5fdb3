package graft.perfbench

/** Order statistics over op latencies. */
object Stats {

  /** Percentile `p` (0–100) by linear interpolation between order statistics. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100d
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50d)

  /** Candidate tail percentiles, highest first. */
  val TailLadder: Seq[Double] = Seq(99d, 95d, 90d, 75d)

  /** The highest ladder percentile with at least 10 samples above it; with
   * fewer than 40 samples no tail above the median is resolvable and the
   * median is reported as the tail (the record says which was used). */
  def tailPercentile(n: Int): Double =
    TailLadder.find(p => n * (1d - p / 100d) >= 10d).getOrElse(50d)
}
