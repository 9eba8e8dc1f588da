package perfbench

/** The benchmark's own arithmetic: order statistics, the tail rule, and
  * interval unions for span self time and driver gaps.
  */
object Stats {

  def median(xs: scala.collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs` at q in [0, 1]. */
  def quantile(xs: scala.collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail: the value at the highest percentile that still has at least
    * `beyond` samples strictly above its rank. With n samples sorted
    * ascending, rank r (1-based) leaves n - r samples beyond it, so the
    * rank is n - beyond and the percentile is 100 * rank / n. With
    * n <= beyond no percentile qualifies; the maximum is reported then,
    * at percentile 100, and the caller records the sample count.
    */
  final case class Tail(value: Double, pct: Double, n: Int)

  def tail(xs: scala.collection.Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    if (n <= beyond) Tail(s.last, 100.0, n)
    else {
      val rank = n - beyond
      Tail(s(rank - 1), 100.0 * rank / n, n)
    }
  }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of [start, end) not covered by any of `inner`, which may overlap
    * each other and may reach outside the outer interval.
    */
  def uncovered(start: Long, end: Long, inner: Seq[(Long, Long)]): Long = {
    val clipped = inner.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - unionLength(clipped)
  }
}

/** A minimal JSON writer: enough for flat and nested maps of numbers,
  * strings, booleans and sequences.
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append("\\u%04x".format(c.toInt))
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
