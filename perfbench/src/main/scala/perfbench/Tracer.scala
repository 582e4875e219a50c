package perfbench

import scala.collection.mutable

/** In-memory span recorder for traced runs. A span is opened around a
  * call into one engine layer from the harness's client thread; it
  * records its name, layer, start, end, parent span and the op it
  * belongs to. Spans are only written out (one JSON line each) when the
  * run ends. When disabled or inactive, [[span]] is a plain call.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, op: Long, name: String, layer: String,
      startNs: Long, var endNs: Long = -1L)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  @volatile var currentOp: Long = 0L
  /** Spans are recorded only while a traced op is running. */
  @volatile var active: Boolean = false

  def span[T](name: String, layer: String)(body: => T): T =
    if (!(enabled && active)) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), currentOp,
        name, layer, System.nanoTime())
      spans += s
      stack.push(s)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
      }
    }

  def count: Int = spans.size

  /** (op, span name, duration nanos) of every recorded span. */
  def durations: Iterator[(Long, String, Long)] =
    spans.iterator.map(s => (s.op, s.name, s.endNs - s.startNs))

  /** Self nanos per layer over the spans of `ops`: each span's duration
    * minus the part of it covered by its direct children.
    */
  def selfNanosByLayer(ops: Set[Long]): Map[String, Long] = {
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.iterator.filter(s => ops.contains(s.op))
      .map(s => s.layer -> (s.endNs - s.startNs - childNs(s.id)))
      .toSeq.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.iterator.map(s => Json.obj(Seq(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs)).s)
    java.nio.file.Files.write(path, lines.toSeq.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
