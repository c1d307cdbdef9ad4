package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval. `parent` is the id of the enclosing span (-1 at
  * the root); `op` groups the spans of one benchmark operation. */
final case class Span(id: Int, name: String, parent: Int, op: Long, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the benchmark's single client thread.
  * Spans wrap the benchmark's calls into the program's public
  * functions; nothing inside the program is instrumented. When
  * disabled, `span` only evaluates its body. */
final class Tracer(val enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Long = 0L

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
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
        buf += Span(id, name, parent, op, t0, t1)
      }
    }

  def spans: Seq[Span] = buf.toSeq
}

object Tracer {

  /** Length of the union of `[start, end)` intervals, each clipped to
    * `[lo, hi)`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of its
    * interval that its direct children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - covered(kids, s.startNs, s.endNs))
    }.toMap
  }

  /** Self time summed per span name, in nanoseconds. */
  def selfByName(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }
}
