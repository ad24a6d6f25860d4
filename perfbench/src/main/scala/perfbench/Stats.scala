package perfbench

/** Summary statistics the report uses. Timings are reported as a median
  * plus the highest percentile that still has at least ten samples
  * beyond it, together with the sample count.
  */
object Stats {

  /** Percentiles tried from the top down for the tail figure. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** Samples a tail percentile must leave above it. */
  val MinBeyond = 10

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Nearest-rank index (1-based) of percentile `p` among `n` samples. */
  def rank(p: Double, n: Int): Int = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Nearest-rank percentile of already-sorted samples. */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double =
    sorted(rank(p, sorted.size) - 1)

  /** The highest ladder percentile with at least [[MinBeyond]] samples
    * above its rank, as (percentile, value); None when there are too
    * few samples for any of them.
    */
  def tail(xs: Iterable[Double]): Option[(Double, Double)] = {
    val s = xs.toIndexedSeq.sorted
    TailLadder.find(p => s.size - rank(p, s.size) >= MinBeyond)
      .map(p => (p, percentile(s, p)))
  }

  /** Length of the union of `[start, end)` intervals clipped to `[lo, hi)`. */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of it covered by
    * its children (overlapping children count once).
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(start, end, children)
}

/** Minimal JSON rendering for the report lines (maps, sequences,
  * numbers, strings, booleans); NaN renders as null.
  */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => num(d)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
