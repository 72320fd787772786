package perfbench

import scala.collection.mutable

/** One traced interval. Times are epoch microseconds so harness spans
  * (nanoTime based) line up with Spark's listener and tracker times
  * (epoch milliseconds). `trace` is the op id the span belongs to. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    start: Double, end: Double)

/** Span recorder for the harness's own calls into each engine layer.
  * Spans stay in memory and are written out when the run ends. With
  * tracing off, `span` only runs its body. */
final class Trace(var enabled: Boolean) {
  private val t0Nano = System.nanoTime()
  private val t0Micros = System.currentTimeMillis() * 1000.0
  private var nextId = 1L
  private val open = mutable.Stack[(Long, String, Double)]()
  private[perfbench] val spans = mutable.ArrayBuffer[Span]()
  var currentTrace = 0L

  def nowMicros: Double = t0Micros + (System.nanoTime() - t0Nano) / 1000.0

  /** Innermost open span, or 0. */
  def current: Long = if (open.isEmpty) 0L else open.top._1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = current
      open.push((id, name, nowMicros))
      try body
      finally {
        val (_, _, start) = open.pop()
        add(Span(id, parent, currentTrace, name, start, nowMicros))
      }
    }

  def newId(): Long = synchronized { nextId += 1; nextId }

  /** Record an interval observed elsewhere (listener, tracker). */
  def record(id: Long, parent: Long, trace: Long, name: String,
      start: Double, end: Double): Unit =
    add(Span(id, parent, trace, name, start, end))

  /** Spans of one op recorded so far. */
  def spansOf(t: Long): List[Span] = synchronized { spans.filter(_.trace == t).toList }

  private def add(s: Span): Unit = synchronized { spans += s }
}
