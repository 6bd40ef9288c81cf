package perfbench

/** Order statistics with the benchmark's percentile rule: a percentile p is
  * reported only when at least [[MinTail]] samples lie beyond it, so a
  * reported p90 rests on ≥100 samples and is never one outlier's value. */
object Stats {

  val MinTail = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Samples needed before percentile `p` (0 < p < 1) may be reported. */
  def samplesNeeded(p: Double): Int = math.ceil(MinTail / (1.0 - p) - 1e-9).toInt

  /** Nearest-rank percentile; None when the tail rule is not met. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] =
    if (xs.length < samplesNeeded(p)) None
    else {
      val s = xs.sorted
      Some(s(math.min(s.length - 1, math.ceil(p * s.length).toInt - 1)))
    }

  /** Samples strictly above the reported percentile value. */
  def beyond(xs: Seq[Double], p: Double): Int =
    percentile(xs, p).fold(0)(v => xs.count(_ > v))
}

/** Minimal JSON writer (the harness emits flat objects and arrays only). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
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
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o: Option[_] => o.fold("null")(value)
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
