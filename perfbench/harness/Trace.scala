package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans around calls into the program's layers. Disabled, a
  * span is just the body: no clock read, no allocation. Enabled, each
  * span keeps (id, parent, name, start, end) and the whole list is
  * written out once, when the run ends. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String,
                        startNs: Long, var endNs: Long)
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new java.util.ArrayDeque[Span]()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = if (stack.isEmpty) -1 else stack.peek().id
      val s = Span(spans.length, parent, name, System.nanoTime(), -1L)
      spans += s
      stack.push(s)
      try body
      finally { s.endNs = System.nanoTime(); stack.pop() }
    }

  /** One JSON object per line: id, parent, name, start and end in
    * nanoseconds from the first span. */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val t0 = if (spans.isEmpty) 0L else spans.head.startNs
    val lines = spans.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> (s.startNs - t0), "end_ns" -> (s.endNs - t0))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Minimal JSON rendering for the result file (numbers, strings,
  * booleans, sequences and string-keyed maps). */
object Json {
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + render(v) }.mkString("{", ",", "}")

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
