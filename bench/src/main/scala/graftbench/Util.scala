package graftbench

/** Minimal JSON writer for the benchmark record: maps, sequences,
  * strings, booleans and numbers (non-finite numbers become null).
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The middle element; for an even count the lower of the two. */
  def lowerMedian(xs: Seq[Double]): Double = xs.sorted.apply((xs.size - 1) / 2)

  /** Linear-interpolated percentile of an unsorted sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** The highest percentile with at least ten samples above it (never
    * below the median).
    */
  def supportedPercentile(n: Int): Double =
    if (n <= 20) 50.0 else math.max(50.0, 100.0 * (1.0 - 10.0 / n))

  /** p99, or the highest percentile the sample supports if lower. */
  def tail(xs: Seq[Double]): Double = percentile(xs, math.min(99.0, supportedPercentile(xs.size)))
}
