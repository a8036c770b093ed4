package graft.bench

/** Order statistics and the JSON result line. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Locale-independent JSON number, all digits kept. */
  def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"not a finite number: $x")
    java.math.BigDecimal.valueOf(x).toPlainString
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

final case class Metric(value: Double, unit: String)

/** What one run reports: the verdict, the operation counts and metrics.
  * `problems` explains a false verdict; it goes to the log, not the line. */
final case class Outcome(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    metrics: Seq[(String, Metric)],
    problems: Seq[String] = Nil) {

  def toJson: String = {
    val ms = metrics.map { case (k, m) =>
      s"${Stats.str(k)}: {\"value\": ${Stats.num(m.value)}, \"unit\": ${Stats.str(m.unit)}}"
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
