package perfbench

/** The small amount of math the benchmark's figures rest on. */
object Stats {

  /** Percentile by linear interpolation between closest ranks (the
    * "exclusive" rule numpy calls `linear`): p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p out of range")
    val s = xs.sorted
    val rank = p / 100.0 * (s.length - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Least-squares slope of y over t (units of y per unit of t); 0 for
    * fewer than two distinct t. */
  def slope(points: Seq[(Double, Double)]): Double = {
    if (points.length < 2) return 0.0
    val n = points.length.toDouble
    val mt = points.map(_._1).sum / n
    val my = points.map(_._2).sum / n
    val den = points.map { case (t, _) => (t - mt) * (t - mt) }.sum
    if (den == 0.0) 0.0
    else points.map { case (t, y) => (t - mt) * (y - my) }.sum / den
  }

  /** One rung of the live rate ladder, as measured. */
  case class Rung(offered: Double, received: Double, visibleP90Ms: Double,
      backlogSlope: Double, lost: Long)

  /** A rung is sustained when its p90 push-to-visible latency is within
    * `maxVisibleMs`, its backlog does not grow faster than
    * `maxSlopeShare` of the offered rate, and it lost nothing. */
  def sustains(r: Rung, maxVisibleMs: Double, maxSlopeShare: Double)
      : Boolean =
    r.visibleP90Ms <= maxVisibleMs &&
      r.backlogSlope <= maxSlopeShare * r.offered && r.lost == 0

  /** The received packet rate of the highest rung that is sustained, when
    * every rung below it is sustained too (the ladder stops at the first
    * failure); 0 when even the first rung fails. */
  def sustainedRate(ladder: Seq[Rung], maxVisibleMs: Double,
      maxSlopeShare: Double): Double =
    ladder.takeWhile(sustains(_, maxVisibleMs, maxSlopeShare))
      .lastOption.map(_.received).getOrElse(0.0)
}
