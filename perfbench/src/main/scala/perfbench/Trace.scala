package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans recorded by the harness around each call into a layer;
  * written out once, when the run ends. Spans of one op share its `op`
  * id; `parent` links a child (construct, execute, an ingest step) to the
  * op span that caused it.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1

  def record(parent: Int, op: Int, name: String, startNs: Long, endNs: Long,
      attrs: Seq[(String, Double)] = Nil): Int =
    if (!enabled) 0
    else spans.synchronized {
      val id = nextId; nextId += 1
      spans += Span(id, parent, op, name, startNs, endNs, attrs)
      id
    }

  def size: Int = spans.size

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> s.op.toString, "name" -> Json.str(s.name),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString) ++
        s.attrs.map { case (k, v) => k -> Json.num(v) }))
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  private final case class Span(id: Int, parent: Int, op: Int, name: String,
      startNs: Long, endNs: Long, attrs: Seq[(String, Double)])
}
