package perfbench

import scala.collection.mutable

/** In-memory spans recorded around the calls the benchmark makes into the
  * program: one span per layer boundary (name, layer, start, end, the span
  * that caused it) plus the counters read at that boundary. Disabled, every
  * call is a plain pass-through. Spans are written out when the run ends.
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val origin = System.nanoTime()

  /** Whether spans are being recorded right now (plain passes of a traced
    * run switch it off). */
  var on: Boolean = enabled

  /** Time `body` as a span of `layer`; nested calls become children. */
  def span[A](layer: String, name: String)(body: => A): A =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), layer, name,
                   System.nanoTime(), 0L, mutable.Map.empty)
      spans += s
      stack = s.id :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Attach counters to the most recently closed span of `layer`. */
  def annotate(layer: String, attrs: Map[String, Double]): Unit =
    if (on) spans.reverseIterator.find(_.layer == layer)
      .foreach(_.attrs ++= attrs)

  /** Self time per layer: each span's duration minus the part of its
    * interval covered by its children. */
  def selfSeconds: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val childNs = kids.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
      s.layer -> (s.endNs - s.startNs - childNs) / 1e9
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_s" -> (s.startNs - origin) / 1e9,
        "dur_s" -> (s.endNs - s.startNs) / 1e9, "attrs" -> s.attrs.toMap)
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
                        startNs: Long, var endNs: Long,
                        attrs: mutable.Map[String, Double])
}
