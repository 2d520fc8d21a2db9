package perfbench

/** The benchmark's arithmetic, kept apart so `SelfTest` can pin it. */
object Stats {

  /** Percentile by linear interpolation between the closest ranks: position
    * `h = (n - 1) * p / 100` in the sorted samples (0-based), so p50 is the usual median
    * (the mean of the middle two for an even count). NaN when empty.
    */
  def percentile(samples: Seq[Double], p: Double): Double =
    if (samples.isEmpty) Double.NaN
    else {
      val sorted = samples.sorted
      val h = (sorted.size - 1) * p / 100.0
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (h - lo) * (sorted(hi) - sorted(lo))
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Geometric mean: each value weighs the same whatever its scale, so halving any one
    * of n values moves the result by the same factor, 2^(1/n). NaN when empty or when a
    * value is NaN.
    */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Total length covered by a set of half-open intervals (overlaps counted once). */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** A span's self time: its duration minus the part of it its children cover. */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) => (math.max(s, span._1), math.min(e, span._2)) }
    (span._2 - span._1) - covered(clipped)
  }
}
