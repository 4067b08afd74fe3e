package perfbench

object Stats {

  /** Median; NaN for no samples. */
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile `q` in [0, 1]; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      if (lo + 1 >= s.size) s(lo) else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
    }

  private val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  /** Metric names: letters, digits, `_`, `.` and `-`, starting with a
    * letter or digit, at most 64 long.
    */
  def validName(s: String): Boolean = NameRe.matches(s)
}

/** The little JSON the benchmark writes. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
  /** Full precision; JSON has no NaN, so a missing value is null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def arr(ds: Seq[Double]): String = ds.map(num).mkString("[", ",", "]")
  def strs(ss: Seq[String]): String = ss.map(str).mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def span(s: Span): String = obj(Seq(
    "id" -> s.id.toString, "name" -> str(s.name), "start_ms" -> num(s.startMs),
    "end_ms" -> num(s.endMs), "parent" -> s.parent.toString,
    "run" -> s.run.toString))
}
