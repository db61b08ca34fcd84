package perfbench

/** One reported number: a validated name, its value and its unit. */
final case class Metric(name: String, value: Double, unit: String) {
  Stats.checkName(name)
  require(Stats.validUnit(unit), s"invalid unit '$unit' of $name")
}

object Stats {

  private val NameChars = "[A-Za-z0-9_.-]+".r
  private val UnitChars = "[A-Za-z0-9_/%.-]+".r

  /** Metric names are 1-64 characters of `[A-Za-z0-9_.-]` and start with
    * a letter or a digit; anything else is a programming error.
    */
  def validName(name: String): Boolean =
    name.length <= 64 && NameChars.matches(name) && name.head.isLetterOrDigit

  def checkName(name: String): String = {
    require(validName(name), s"invalid metric name: '$name'")
    name
  }

  def validUnit(unit: String): Boolean =
    unit.length <= 16 && UnitChars.matches(unit)

  /** The q-quantile with linear interpolation between closest ranks
    * (the default of numpy and of R's type 7).
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The 90th percentile, or None unless at least `minAbove` samples lie
    * strictly above it: a tail read off fewer samples is mostly noise.
    */
  def p90(xs: Seq[Double], minAbove: Int = 10): Option[Double] =
    if (xs.isEmpty) None
    else {
      val p = quantile(xs, 0.9)
      if (xs.count(_ > p) >= minAbove) Some(p) else None
    }

  /** Total length of the union of closed intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}
