package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

/** One timed interval. `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the traced run. Spans nest per thread; a
  * span opened on a thread with no open span (the streaming query's
  * micro-batch thread) hangs under [[anchor]], the span the client thread
  * has marked as the parent of work it hands to Spark. Nothing is written
  * until the run ends. While [[on]] is false every call is a plain call. */
final class Tracer {
  @volatile var on: Boolean = false
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new AtomicInteger(0)
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  @volatile var anchor: Int = -1

  def current: Int = open.get.headOption.getOrElse(anchor)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.getAndIncrement()
      val parent = current
      open.set(id :: open.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(open.get.tail)
        record(Span(id, name, parent, t0, t1))
      }
    }

  /** A span reconstructed after the fact (e.g. from Spark job events). */
  def add(name: String, parent: Int, startNs: Long, endNs: Long): Int = {
    val id = nextId.getAndIncrement()
    record(Span(id, name, parent, startNs, endNs))
    id
  }

  /** A span that is also the parent of spans opened on threads with no
    * span of their own while `body` runs. */
  def anchored[T](name: String)(body: => T): T =
    span(name) {
      val prev = anchor
      anchor = current
      try body finally anchor = prev
    }

  private def record(s: Span): Unit = spans.synchronized { spans += s; () }

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

object Tracer {

  /** Self time of each span: its duration minus the union of its children's
    * intervals (clipped to the span). */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> math.max(0L, (s.endNs - s.startNs) - covered)
    }.toMap
  }

  /** Per span name: count, total ms and self ms. */
  def summary(spans: Seq[Span]): Seq[(String, Int, Double, Double)] = {
    val self = selfNs(spans)
    spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.size, ss.map(_.ms).sum, ss.map(s => self(s.id) / 1e6).sum)
    }.sortBy(-_._4)
  }
}
