package graftbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder. A span is (name, start, end, parent span, op
  * id); spans nest through a stack of open spans (ops run on one thread),
  * are kept in memory and written once when the run ends. When tracing is
  * off, [[apply]] only runs its body. */
final class Tracer(val on: Boolean) {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** Op the spans recorded from now on belong to (-1 = set-up / checks). */
  var op: Long = -1L

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, op, name, t0, t1)
      }
    }

  /** Id of the span that closed last (-1 before any). */
  def lastId: Int = if (spans.isEmpty) -1 else spans.last.id

  /** Record an already-measured interval as a child of span `parent`. */
  def record(name: String, startNs: Long, endNs: Long, parent: Int): Unit =
    if (on) {
      spans += Span(nextId, parent, op, name, startNs, endNs)
      nextId += 1
    }

  /** Total seconds of the spans named `name` on op `op`. */
  def opSeconds(op: Long, name: String): Double =
    spans.iterator.filter(s => s.op == op && s.name == name).map(_.seconds).sum

  /** Per span name: (count, total seconds, total self seconds). Self
    * time is a span's duration minus the time its children cover. */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val childNs = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ((ss.size, ss.map(_.seconds).sum,
        ss.map(s => math.max(0L, s.endNs - s.startNs - childNs(s.id)) / 1e9).sum))
    }
  }

  /** One JSON object per line: id, parent, op, name, start/end (ns from
    * the first span). */
  def write(file: java.io.File): Unit = {
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs - t0},"end_ns":${s.endNs - t0}}""")
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Long, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The tail of a latency sample as (value, percentile, sample count):
    * the highest percentile with at least ten samples above it, once that
    * is p90 or higher (110 samples or more); below that the maximum,
    * reported as p100. */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n < 110) (s.last, 100, n)
    else {
      val r = n - 11 // s(r) has exactly ten samples above it
      (s(r), math.floor(100.0 * (r + 1) / n).toInt, n)
    }
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
