package perfbench

import scala.collection.mutable

/** In-memory spans around the benchmark's own calls into each module.
  *
  * A span has a name, start, end, parent and a trace id; spans of one
  * refresh or one query share the trace id of their root. Nothing is
  * recorded when tracing is off — [[span]] then only runs its body. Spans
  * stay in memory and are written out once, by [[writeJsonl]], at exit. */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, Int)] // (span id, trace id)
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = { nextId += 1; nextId }
      val (parent, trace) = stack.headOption.getOrElse((0, id))
      stack.push((id, trace))
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        spans += Span(id, trace, parent, name, t0, System.nanoTime())
      }
    }

  /** Inclusive seconds of the spans named `name` that began at or after
    * `sinceNs`. */
  def totalS(name: String, sinceNs: Long = Long.MinValue): Double =
    spans.filter(s => s.name == name && s.startNs >= sinceNs)
      .map(s => (s.endNs - s.startNs) / 1e9).sum

  /** Self seconds per span name: each span minus the time its direct
    * children cover (children of one span never overlap: calls are
    * sequential in this closed loop). */
  def selfS: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def writeJsonl(path: String): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.id).foreach { s =>
      sb ++= Json.render(Map("id" -> s.id, "trace" -> s.trace,
        "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)) += '\n'
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Trace {
  final case class Span(id: Int, trace: Int, parent: Int, name: String,
                        startNs: Long, endNs: Long)
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)

  def read(path: String): Map[String, Any] =
    mapper.readValue(new java.io.File(path), classOf[Map[String, Any]])
}
