package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

/** A traced interval: a layer's span within one operation. Times are epoch
  * milliseconds; `parent` names the enclosing span of the same operation
  * (empty for an operation's root). */
final case class Span(name: String, startMs: Long, endMs: Long, parent: String, op: String)

object Spans {
  /** Writes the spans as JSON lines; they are kept in memory until then. */
  def write(path: String, spans: Seq[Span]): Unit = {
    val mapper = new ObjectMapper()
    val lines = spans.map { s =>
      val n = mapper.createObjectNode()
      n.put("name", s.name)
      n.put("start_ms", s.startMs)
      n.put("end_ms", s.endMs)
      n.put("parent", s.parent)
      n.put("op", s.op)
      mapper.writeValueAsString(n)
    }
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}
