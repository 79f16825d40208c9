package graftbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans around the benchmark's own calls into each layer.
  * A span's layer is its name up to the first dot. Disabled (the timed
  * runs), `span` only evaluates its body. */
final class Trace(val enabled: Boolean, val runId: String) {
  case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
    def layer: String = name.takeWhile(_ != '.')
    def durMs: Double = (endNs - startNs) / 1e6
  }

  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0

  private def newId(): Int = synchronized { nextId += 1; nextId }

  /** Id of the innermost open span on this thread (0 when none). */
  def current: Int = stack.get.headOption.getOrElse(0)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parent = current
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, name, parent, t0, t1) }
      }
    }

  /** A span observed after the fact (e.g. a micro-batch reported by a
    * callback on another thread), attached to an explicit parent. */
  def record(name: String, parent: Int, startNs: Long, endNs: Long): Unit =
    if (enabled) synchronized { spans += Span(newId(), name, parent, startNs, endNs) }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per layer: each span's duration minus the part of it that
    * its children cover. */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.layer -> (s.endNs - s.startNs - Stats.unionLength(kids, s.startNs, s.endNs)) / 1e6
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      Stats.json(Map("run" -> runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
