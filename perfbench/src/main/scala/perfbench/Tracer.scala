package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** In-memory spans around the benchmark's calls into each layer: name,
  * start, end, parent span and op id. One op is one panel, search,
  * micro-batch, drain or collector call. Disabled, a span is just the
  * call. Spans are written once, when the run ends.
  */
final class Tracer(on: Boolean) {
  import Tracer.Span

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  /** Open spans of this thread, innermost first, with their op ids. */
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  /** nanoTime of the epoch, so spans from listener timestamps line up. */
  private val epochNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  @volatile var enabled: Boolean = on

  /** Wrap `body` in a span; an empty `op` inherits the enclosing span's. */
  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val opId = if (op.nonEmpty) op else parents.headOption.map(_._2).getOrElse("")
      stack.set((id, opId) :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.add(Span(id, parents.headOption.map(_._1).getOrElse(0L), name, opId,
          t0, t1, Thread.currentThread().getName))
      }
    }

  /** A span observed rather than wrapped, from epoch-millisecond bounds. */
  def record(name: String, op: String, startMs: Long, endMs: Long): Unit =
    if (enabled)
      spans.add(Span(ids.incrementAndGet(), 0L, name, op,
        epochNs + startMs * 1000000L, epochNs + endMs * 1000000L, "listener"))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer (the span name up to its first dot), in ms: a
    * span's duration minus the part of it its child spans cover.
    */
  def selfTimeMs: Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, group) =>
      layer -> group.map { s =>
        val covered = Tracer.unionNs(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.write(compact(render(("id" -> s.id) ~ ("parent" -> s.parent) ~ ("name" -> s.name) ~
        ("op" -> s.op) ~ ("start_ns" -> (s.startNs - epochNs)) ~
        ("end_ns" -> (s.endNs - epochNs)) ~ ("thread" -> s.thread))))
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, name: String, op: String,
      startNs: Long, endNs: Long, thread: String)

  /** Total length covered by a set of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
