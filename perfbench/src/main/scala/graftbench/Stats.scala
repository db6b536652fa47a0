package graftbench

/** Pure helpers behind the reported numbers (unit-tested in StatsSpec). */
object Stats {

  /** Linearly interpolated percentile, `p` in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s    = xs.sorted
    val rank = p / 100.0 * (s.length - 1)
    val lo   = math.floor(rank).toInt
    val hi   = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Candidate tail percentiles, in tenths of a percent. */
  private val ladder: Seq[Int] = (500 to 950 by 50) ++ Seq(990, 999)

  /** The highest percentile of the ladder (p50, p55, ..., p95, p99,
    * p99.9) that leaves at least `beyond` of `n` samples above it; None
    * when even the median does not (n < 2 * beyond).
    */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    ladder.filter(p => n.toLong * (1000 - p) >= beyond.toLong * 1000)
      .lastOption.map(_ / 10.0)

  /** Length of [lo, hi] NOT covered by the union of `intervals`. This is
    * a span's self time (its children as intervals) and an op's driver
    * gap (its Spark jobs as intervals).
    */
  def uncovered(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0.0
    var curA    = Double.NaN
    var curB    = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    (hi - lo) - covered
  }
}
