package perfbench

import scala.collection.mutable

/** One timed interval. `parent` is -1 for a root span; every span of one
  * operation shares `op`. Times are System.nanoTime readings. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Span recorder. Spans stay in memory and are written out when the run
  * ends. A disabled tracer still times its bodies (the caller needs the
  * duration either way) but records nothing. */
final class Tracer(val enabled: Boolean,
    sc: Option[org.apache.spark.SparkContext] = None) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0
  private var nextOp = 0
  private var curOp = -1

  def spans: Seq[Span] = done.toSeq

  /** Id of the innermost open span, -1 when none. */
  def current: Int = stack.headOption.map(_._1).getOrElse(-1)

  /** Runs `body` as a new operation: its spans share one op id. */
  def operation[T](body: => T): T = {
    val saved = curOp
    curOp = nextOp; nextOp += 1
    try body finally curOp = saved
  }

  /** Times `body` and, when enabled, records it as a span under the
    * innermost open span; jobs the body submits from this thread carry
    * the span id as the local property [[Tracer.SpanProperty]]. Returns
    * the body's value and its seconds. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val id = nextId; nextId += 1
    val parent = current
    stack = (id, name, System.nanoTime()) :: stack
    if (enabled) sc.foreach(_.setLocalProperty(Tracer.SpanProperty, id.toString))
    val t0 = stack.head._3
    var t1 = 0L
    val v = try body finally {
      t1 = System.nanoTime()
      stack = stack.tail
      if (enabled) {
        done += Span(id, name, parent, curOp, t0, t1)
        sc.foreach(_.setLocalProperty(Tracer.SpanProperty,
          if (parent < 0) null else parent.toString))
      }
    }
    (v, (t1 - t0) / 1e9)
  }

  /** The innermost span (still open, or finished) whose interval
    * contains time `t`, -1 when none. */
  def spanAt(t: Long): Int =
    stack.find(_._3 <= t).map(_._1).getOrElse {
      val hits = done.filter(s => s.start <= t && t <= s.end)
      if (hits.isEmpty) -1 else hits.maxBy(_.start).id
    }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

object Trace {

  /** Self time per span: its duration minus the part of its interval
    * covered by its children (overlapping children count once). */
  def selfNanos(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a })
      s.id -> (s.end - s.start - covered)
    }.toMap
  }

  /** Total length of a union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Spans as a JSON array, for the trace file. */
  def toJson(spans: Seq[Span]): String = {
    val self = selfNanos(spans)
    spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""op":${s.op},"start_ns":${s.start},"end_ns":${s.end},""" +
        s""""self_ns":${self(s.id)}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

/** Minimal JSON writing (the benchmark emits, never parses, JSON). */
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

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case Some(x) => value(x)
    case None => "null"
    case other => str(other.toString)
  }
}
