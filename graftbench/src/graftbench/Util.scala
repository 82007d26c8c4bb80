package graftbench

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  /** every digit as measured; non-finite values are not JSON numbers */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

object Stats {
  /** nearest-rank percentile; a failed op is recorded as +Inf, so it
    * counts as missing every latency limit */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** samples strictly above the p-th percentile */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val v = pct(xs, p)
    xs.count(_ > v)
  }

  /** the highest of the usual percentiles with at least ten samples above it */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(0.99, 0.95, 0.9, 0.75).find(p => beyond(xs, p) >= 10).map(p => p -> pct(xs, p))
}

/** wall time of a block, in seconds */
object Clock {
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
