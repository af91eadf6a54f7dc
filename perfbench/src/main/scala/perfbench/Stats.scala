package perfbench

/** Summary statistics used by every workload. All inputs are plain
  * sample sequences (seconds, bytes, counts); nothing here touches Spark,
  * so the rules are unit-tested in isolation.
  */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" rule: q=0 is the
    * minimum, q=1 the maximum). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(q >= 0 && q <= 1, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Samples strictly above the `p`-th percentile. */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val cut = quantile(xs, p / 100)
    xs.count(_ > cut)
  }

  /** The highest of `candidates` (percent) whose value has at least
    * `minBeyond` samples strictly above it, with that value. None when
    * even the lowest candidate leaves too few samples beyond it.
    */
  def tail(xs: Seq[Double], candidates: Seq[Int],
      minBeyond: Int = 10): Option[(Int, Double)] =
    if (xs.isEmpty) None
    else candidates.sorted.reverse.find(p => beyond(xs, p) >= minBeyond)
      .map(p => p -> quantile(xs, p / 100.0))

  /** Geometric mean of positive values. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Megabytes (10^6 bytes) per second. */
  def mbPerS(bytes: Long, seconds: Double): Double = {
    require(seconds > 0, "rate over a zero interval")
    bytes / 1e6 / seconds
  }

  /** `part / base`, refusing a zero base instead of printing Infinity. */
  def ratio(part: Double, base: Double): Double = {
    require(base != 0, "ratio over a zero base")
    part / base
  }
}
