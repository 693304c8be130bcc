package graftbench

/** Order statistics and interval arithmetic shared by every workload. */
object Stats {

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(xs.size, p) - 1)
  }

  /** 1-based nearest rank of the `p`th percentile of `n` samples. The
    * epsilon keeps binary rounding (99.9% of 10000 is 9990.000000000002)
    * from pushing the rank up by one. */
  private def rank(n: Int, p: Double): Int =
    math.ceil(p * n / 100.0 - 1e-9).toInt.max(1).min(n)

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Median, or 0 when a failed unit left no samples. */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** Geometric mean: every operation weighs the same whatever its size,
    * and one value crossing the middle of the distribution moves it only a
    * little (a median can jump between two far-apart operations). Every
    * value must be positive: a failed operation carries the time it took to
    * fail, and is never left out. */
  def gmean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geometric mean needs positive values, got $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Samples strictly above the nearest-rank `p`th percentile's rank. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  /** The highest percentile on [[Ladder]] that still has at least ten
    * samples beyond it, with its value; None when there are too few
    * samples for even the 75th. A tail read off fewer than ten samples is
    * one or two outliers, not a percentile. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Ladder.find(p => beyond(xs.size, p) >= 10).map(p => (p, percentile(xs, p)))

  /** Total length of the union of `[start, end)` intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    val sorted = iv.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    sorted.foreach { case (a, b) =>
      if (curE.isNaN || a > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Self time of a span: its length minus the part of it covered by at
    * least one child. Children that overlap each other (concurrent stages
    * of one job) are counted once; child time outside the parent is
    * clipped. */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)]): Double = {
    val clipped = children.map { case (a, b) => (a.max(start), b.min(end)) }
    ((end - start) - unionLength(clipped)).max(0.0)
  }
}
