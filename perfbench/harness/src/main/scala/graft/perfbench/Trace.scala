package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `name` is `<layer>.<what>`; the layer
  * is the program module the call enters (or `spark` for engine work
  * the benchmark triggers directly). Times are ns from the tracer's
  * origin; `parent` is -1 for an iteration's root span. */
final case class Span(id: Int, parent: Int, name: String, start: Long,
    end: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (end - start) / 1e9
}

/** Spans kept in memory on the driver thread and written out when the
  * run ends. A disabled tracer runs the body and records nothing. A
  * workload's iteration makes the same calls with either tracer, so the
  * traced wall time differs from the untraced one only by the tracer's
  * own cost. */
final class Tracer(val enabled: Boolean) {
  private val origin = System.nanoTime()
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, name, System.nanoTime() - origin, -1L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(end = System.nanoTime() - origin)
      }
    }

  /** Self time per layer inside root span `root`: each span's duration
    * minus the part its children cover, summed by layer. */
  def selfByLayer(root: Span): Map[String, Double] = {
    val inside = spans.filter(s => s.start >= root.start && s.end <= root.end)
    inside.map { s =>
      val kids = inside.filter(_.parent == s.id).map(_.seconds).sum
      s.layer -> (s.seconds - kids)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def roots: Seq[Span] = spans.filter(_.parent == -1).toSeq

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
