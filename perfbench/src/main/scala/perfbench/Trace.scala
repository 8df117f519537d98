package perfbench

import scala.collection.mutable.ArrayBuffer

final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startNs: Long, var endNs: Long)

/** In-memory spans around every call the client makes into a layer.
  * Span names are `<layer>.<call>`. A disabled tracer runs the body
  * and records nothing, so untraced runs pay one branch per call. */
final class Tracer(val on: Boolean) {
  val spans = ArrayBuffer[Span]()
  private val stack = scala.collection.mutable.Stack[Span]()
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  var op: Int = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0),
        op, name, System.nanoTime(), 0L)
      spans += s
      stack.push(s)
      try body
      finally { s.endNs = System.nanoTime(); stack.pop() }
    }

  /** Wall-clock milliseconds of a span clock reading, the clock Spark's
    * listener events carry. */
  def wallMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  /** Span duration minus the part of it its children cover. */
  def selfNs(s: Span, children: Seq[Span]): Long =
    (s.endNs - s.startNs) - Stats.unionLength(
      children.map(c => (c.startNs.toDouble, c.endNs.toDouble))).toLong
}

object Stats {
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
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Length of the union of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ", ", "]")
}
