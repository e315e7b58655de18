package perfbench

/** Pure metric arithmetic shared by the untraced and traced runs. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail percentile: `value` is the nearest-rank `percentile` of
    * `samples` timings, and `beyond` of them are strictly slower. */
  case class Tail(percentile: Double, value: Double, samples: Int, beyond: Int)

  /** The highest percentile, in steps of 0.1 from 99.9 down to 50, that
    * has at least `minBeyond` samples beyond it. Below 2 × `minBeyond`
    * samples no such percentile exists; the median is returned then, as
    * percentile 50 with the samples above it as `beyond`. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    require(n > 0, "tail of no samples")
    def at(p: Double): Tail = {
      val rank = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)
      Tail(p, s(rank - 1), n, n - rank)
    }
    (999 to 500 by -1).iterator.map(p => at(p / 10.0))
      .find(_.beyond >= minBeyond)
      .getOrElse(Tail(50.0, median(s), n, s.count(_ > median(s))))
  }

  /** Length of the union of `intervals`, each clipped to [start, end).
    * Overlapping intervals are counted once. */
  def covered(start: Double, end: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** Self time of a span: its duration minus the part of it that its
    * children cover. The driver gap of a query is its self time with the
    * query's jobs as children. */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)]): Double =
    (end - start) - covered(start, end, children)
}
