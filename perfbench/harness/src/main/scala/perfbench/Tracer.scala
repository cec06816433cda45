package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans around the public calls the harness makes. A span
  * records its parent, so self time (duration minus child spans) can be
  * summed per layer. Nothing is written until [[json]] is called at the
  * end of the run; when disabled, [[span]] only runs its body.
  */
final class Tracer {
  final case class Span(id: Int, parent: Int, name: String, layer: String,
      startNs: Long, var durNs: Long = 0L)

  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val t0 = System.nanoTime()
  var enabled = false

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), name, layer,
        System.nanoTime())
      spans += s
      stack = s.id :: stack
      try body
      finally {
        s.durNs = System.nanoTime() - s.startNs
        stack = stack.tail
      }
    }

  /** Seconds of the latest span called `name`. */
  def last(name: String): Double =
    spans.reverseIterator.find(_.name == name).map(_.durNs / 1e9).getOrElse(0.0)

  /** (calls, total seconds, self seconds) per span name. */
  def byName: Map[String, (Int, Double, Double)] = {
    val childNs = spans.groupBy(_.parent).view.mapValues(_.map(_.durNs).sum).toMap
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.size, ss.map(_.durNs).sum / 1e9,
        ss.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum / 1e9)
    }
  }

  /** Self seconds per layer. */
  def selfByLayer: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).view.mapValues(_.map(_.durNs).sum).toMap
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def json: String = spans.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}",""" +
      f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"dur_s":${s.durNs / 1e9}%.6f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
