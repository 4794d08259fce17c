package graftbench

/** Order statistics used by every workload. */
object Stats {

  /** Linear-interpolated percentile (`q` in [0, 1]) of unsorted samples:
    * rank q·(n−1) between the two nearest order statistics. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q >= 0 && q <= 1, s"percentile rank $q outside [0, 1]")
    val s = xs.sorted.toArray
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Quartiles as Python's `statistics.quantiles(xs, n=4)` computes them
    * (its default "exclusive" method), so the spreads the harness reports
    * match the ones computed over its results. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.length >= 2, "quartiles need at least two samples")
    val d = xs.sorted.toArray
    val ld = d.length
    val m = ld + 1
    val n = 4
    def cut(i: Int): Double = {
      val j = math.min(math.max(i * m / n, 1), ld - 1)
      val delta = i * m - j * n
      (d(j - 1) * (n - delta) + d(j) * delta) / n
    }
    (cut(1), cut(2), cut(3))
  }
}
