package perfbench

/** Minimal JSON rendering for the result line and the trace artifact. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
}

/** Order statistics used for every reported timing. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value, sample count). Fewer than eleven samples have
    * no such percentile; the maximum is reported then, marked as p100.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.size
    if (n == 0) (100.0, 0.0, 0)
    else if (n < 11) (100.0, xs.max, n)
    else {
      val s = xs.sorted
      // rank n-11 (0-based) leaves exactly ten samples above it
      val p = 100.0 * (n - 10).toDouble / n
      (math.floor(p * 10) / 10, s(n - 11), n)
    }
  }
}
