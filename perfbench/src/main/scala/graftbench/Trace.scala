package graftbench

import scala.collection.mutable

/** In-memory spans around the benchmark's calls into graft's public API.
  *
  * Single client thread: the open spans form a stack, so a span's parent is
  * the span open when it started. Spans of one op share its `op` id.
  * Disabled, [[span]] only runs its body. Spans are written out once, at
  * the end of the run.
  */
final class Trace {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
      startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  var enabled = false
  private var op = -1
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0

  def beginOp(id: Int): Unit = op = id

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        open.pop()
        done += Span(id, parent, op, name, t0, System.nanoTime())
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Span duration minus the part its direct children cover (children are
    * sequential on the one client thread, so their sum is their union). */
  def selfMs: Map[Int, Double] = {
    val childNs = done.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    done.map(s => s.id -> (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e6)
      .toMap
  }

  /** Self time of every span with this name. */
  def selfOf(name: String): Seq[Double] = {
    val self = selfMs
    done.filter(_.name == name).map(s => self(s.id)).toSeq
  }

  def durationsOf(name: String): Seq[Double] =
    done.filter(_.name == name).map(_.ms).toSeq

  def write(path: java.nio.file.Path): Unit = {
    val self = selfMs
    val lines = done.sortBy(_.id).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${self(s.id)}%.4f}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
