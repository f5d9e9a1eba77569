package graftbench

import scala.collection.mutable

/** One timed interval. `layer` names the module the interval is spent in;
  * `op` is the workload operation (batch, statement or query run) the span
  * belongs to, or -1 outside any operation. Times are `System.nanoTime`.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      op: Long, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans held in memory and written out when the benchmark ends. The
  * benchmark opens spans from its own code around each call into a layer;
  * listeners add child spans for Spark jobs afterwards.
  */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var currentOp = -1L

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Time `body` as a span nested in the innermost open span. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = stack.headOption.getOrElse(0L)
    val start = System.nanoTime()
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      val end = System.nanoTime()
      synchronized { spans += Span(id, parent, name, layer, currentOp, start, end) }
    }
  }

  /** Time `body` as the root span of workload operation `op`. */
  def op[T](op: Long, name: String)(body: => T): T = {
    currentOp = op
    try span(name, "op")(body) finally currentOp = -1L
  }
}

object Trace {

  def json(spans: Seq[Span]): String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""layer":${Json.str(s.layer)},"op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]")

  /** Length of the union of `[start, end)` intervals, in the units given. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of its interval that
    * its children cover. Children are clipped to the parent, and
    * overlapping children count once.
    */
  def selfTime(parent: Span, children: Seq[Span]): Long = {
    val clipped = children.map(c =>
      (math.max(c.startNs, parent.startNs), math.min(c.endNs, parent.endNs)))
    parent.durNs - unionLength(clipped)
  }

  /** Self time summed per layer over every span, with each span's children
    * taken from the parent links.
    */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => selfTime(s, kids.getOrElse(s.id, Nil))).sum
    }
  }
}

/** Minimal JSON rendering for the result files. */
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
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
