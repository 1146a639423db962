package perfbench

/** Order statistics used by every workload.
  *
  * Quantiles interpolate linearly between closest ranks (the "R-7" rule,
  * `numpy.quantile`'s default): q(p) over sorted x[0..n-1] is
  * x[h0] + (h - h0) * (x[h0+1] - x[h0]) with h = (n - 1) * p.
  *
  * Latency summaries are taken per op type and then combined by geometric
  * mean, so a median never falls in the gap between unlike op clusters.
  */
object Stats {
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(p >= 0.0 && p <= 1.0, s"quantile p out of range: $p")
    val s = xs.sorted.toIndexedSeq
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive values: $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Geometric mean over op types of each type's `p` quantile. */
  def perTypeGeomean(samples: Seq[(String, Double)], p: Double): Double =
    geomean(samples.groupBy(_._1).values.map(v => quantile(v.map(_._2), p)).toSeq)

  /** Smallest per-type sample count, the figure the p90 rests on. */
  def minPerType(samples: Seq[(String, Double)]): Int =
    if (samples.isEmpty) 0 else samples.groupBy(_._1).values.map(_.size).min
}
