package graft.perfbench

/** Percentiles as the benchmark reports them: nearest-rank on the sorted
  * sample, and a tail percentile only where the sample supports it. */
object Stats {

  /** Nearest-rank `q`-quantile (0 < q <= 1) of an ascending sample. */
  def quantile(sorted: Array[Double], q: Double): Double = {
    require(sorted.nonEmpty, "quantile of an empty sample")
    sorted(math.max(1, math.ceil(q * sorted.length).toInt) - 1)
  }

  def median(xs: Iterable[Double]): Double = quantile(xs.toArray.sorted, 0.5)

  /** Geometric mean of positive values. */
  def geoMean(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive values")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Percentiles a tail is chosen from, highest first. */
  val Ladder: Seq[Double] = Seq(0.99, 0.95, 0.9, 0.75, 0.5)

  /** How many of `n` samples lie past the nearest-rank `q` position. */
  def beyond(n: Int, q: Double): Int = n - math.ceil(q * n).toInt

  /** The highest [[Ladder]] percentile with at least `minBeyond` samples
    * beyond it, as `(q, value)`; `None` when even the median lacks them. */
  def tail(sorted: Array[Double], minBeyond: Int = 10): Option[(Double, Double)] =
    Ladder.find(q => beyond(sorted.length, q) >= minBeyond).map(q => q -> quantile(sorted, q))

  /** Label of a quantile as a percentile, e.g. 0.99 -> "p99", 0.999 -> "p99.9". */
  def label(q: Double): String = {
    val p = BigDecimal(q * 100).setScale(1, BigDecimal.RoundingMode.HALF_UP)
    "p" + (if (p.isWhole) p.toInt.toString else p.toString)
  }
}
