package servebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** In-memory spans of the traced run. A span has a name, start, end and
  * parent; all spans of one request share its id. [[write]] dumps them as
  * JSON lines when the run ends.
  */
final class Spans {
  import Spans.Span

  private val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stacks = ThreadLocal.withInitial(() => mutable.Stack.empty[Int])

  /** Time `f` as span `name` of `request`, nested under the open span. */
  def apply[T](request: String, name: String)(f: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val stack = stacks.get()
    val parent = stack.headOption.getOrElse(0)
    stack.push(id)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      synchronized(done += Span(id, request, name, parent, t0, t1))
    }
  }

  def all: Seq[Span] = synchronized(done.toSeq)

  def write(path: Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.startNs).foreach { s =>
      sb.append(s"""{"id":${s.id},"request":${graft.util.Json.str(s.request)},""" +
        s""""name":${graft.util.Json.str(s.name)},"parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").append('\n')
    }
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8)): Unit
  }
}

object Spans {
  final case class Span(id: Int, request: String, name: String, parent: Int,
      startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
}
