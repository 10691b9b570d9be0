package perfbench

/** Order statistics used by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (NaN for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** A tail latency: the highest percentile that still has at least ten
    * samples beyond it, so the value rests on more than a few outliers. */
  final case class Tail(value: Double, percentile: Double, n: Int)

  def tail(xs: Seq[Double]): Tail = {
    val s = xs.sorted
    val n = s.size
    if (n < 11)
      throw new IllegalStateException(
        s"a tail needs at least 11 samples, got $n — run longer")
    val idx = n - 11 // exactly ten samples lie above s(idx)
    Tail(s(idx), 100.0 * (idx + 1) / n, n)
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** Minimal JSON writer for the benchmark's output lines. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case o: Option[_] => o.map(value).getOrElse("null")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
