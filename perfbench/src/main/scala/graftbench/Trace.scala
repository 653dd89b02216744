package graftbench

import scala.collection.mutable

import Trace.Span

/** In-memory spans around the benchmark's calls into each layer: name,
  * start, end, parent and run id. Nothing is written until `json`, which
  * the benchmark calls once at the end. */
final class Trace {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](run: Int, name: String)(body: => T): T = {
    val id = spans.size
    val parent = open.headOption.getOrElse(-1)
    spans += Span(id, parent, run, name, System.nanoTime(), 0L)
    open = id :: open
    try body
    finally {
      open = open.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  /** A span's duration minus the part of it its child spans cover. */
  private def selfSeconds(s: Span): Double = {
    val children = spans.filter(_.parent == s.id)
      .map(c => (c.startNs, c.endNs)).toSeq
    LayerListener.uncovered(s.startNs, s.endNs, children) / 1e9
  }

  def json: String = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"run":${s.run},"name":"${s.name}",""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f,""" +
        f""""self_s":${selfSeconds(s)}%.6f}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, run: Int, name: String,
                        startNs: Long, endNs: Long)
}
