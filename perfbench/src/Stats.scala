package perfbench

/** Order statistics for latency samples and a minimal JSON writer for the
  * run record (the benchmark has no JSON dependency of its own). */
object Stats {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it: the
    * (n-10)-th smallest of n samples, and that percentile. With ten
    * samples or fewer no percentile qualifies, so the maximum is
    * returned and marked as percentile 100. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (0.0, 0.0)
    else if (xs.length <= 10) (xs.max, 100.0)
    else {
      val s = xs.sorted
      val n = s.length
      (s(n - 11), 100.0 * (n - 10) / n)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Render maps, sequences, strings, booleans and numbers as JSON.
    * Non-finite numbers become null. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
