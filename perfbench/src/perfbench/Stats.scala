package perfbench

/** Order statistics and the result line. */
object Stats {

  /** Linear-interpolation quantile (the common "type 7" definition). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  private def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(String.format(java.util.Locale.ROOT, "\\u%04x", Int.box(c.toInt)))
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** Full-precision, locale-independent JSON number. */
  private def jsonNumber(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a finite number")
    java.lang.Double.toString(v)
  }

  /** The JVM's result: metric values by name. run.py adds each metric's
    * unit from BENCHMARK.json, which names the metrics a run must print. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long, values: Map[String, Double]): String = {
    val vs = values.toSeq.sortBy(_._1).map { case (k, v) => s"${jsonString(k)}: ${jsonNumber(v)}" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "values": {${vs.mkString(", ")}}}"""
  }
}
