package graftbench

/** A named result: value, unit and the number of samples behind it. */
final case class Metric(name: String, value: Double, unit: String, samples: Int)

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); +Inf samples (failed
    * operations) sort last, so a failure counts as missing every limit.
    */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = s(pos.toInt)
      val hi = s(math.min(pos.toInt + 1, s.size - 1))
      if (hi.isInfinite) hi else lo + (hi - lo) * (pos - pos.toInt)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
