package perfbench

/** One named measurement. A name is at most 64 letters, digits, `_`,
  * `.` and `-`, starting with a letter or digit. */
final case class Metric(name: String, value: Double, unit: String) {
  require(Report.validName(name), s"bad metric name: $name")
  require(!value.isNaN && !value.isInfinite, s"$name is not a finite number: $value")
}

object Report {

  private val NameRe = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r

  def validName(s: String): Boolean = NameRe.matches(s)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The `q` quantile only when at least `minBeyond` samples lie strictly
    * above it; a tail read from fewer samples is noise, so it is
    * omitted rather than reported. */
  def tailQuantile(xs: Seq[Double], q: Double, minBeyond: Int = 10): Option[Double] =
    if (xs.isEmpty) None
    else {
      val v = quantile(xs, q)
      if (xs.count(_ > v) >= minBeyond) Some(v) else None
    }

  def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  /** A finite double as JSON, keeping every digit Java prints. */
  def jsonNumber(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  def metricsJson(ms: Seq[Metric]): String =
    ms.map(m => s"${jsonString(m.name)}: {\"value\": ${jsonNumber(m.value)}, " +
      s"\"unit\": ${jsonString(m.unit)}}").mkString("{", ", ", "}")

  /** The last stdout line of a run. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long, ms: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${metricsJson(ms)}}"""
}
