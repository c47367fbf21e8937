package perfbench

/** Minimal JSON writing and order statistics for the run record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** Full precision; NaN/infinite become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile with at least ten samples beyond it (the
    * sample's supported tail), and its value: (percentile, value). With
    * fewer than 11 samples the maximum is reported. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    if (n <= 10) (100.0, if (xs.isEmpty) Double.NaN else xs.max)
    else {
      val p = math.floor(100.0 * (n - 10) / n)
      (p, quantile(xs, p / 100.0))
    }
  }
}
