package perfbench

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced run. A span is opened around
  * each benchmark call into the program; spans of one request share `req`,
  * and `parent` is the enclosing span on the calling thread. Nothing is
  * written until [[write]] at exit. When disabled every call is a plain
  * pass-through, so the untraced run pays one branch per call. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[java.lang.Long] { override def initialValue = 0L }

  def span[T](name: String, req: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, req, name, t0, System.nanoTime(), Thread.currentThread.getName))
        current.set(parent)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time (ms) per span name: duration minus the part covered by its
    * children on the same thread. */
  def selfMs: Map[String, Double] = {
    val ss = all
    val childNs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    ss.groupBy(_.name).map { case (n, xs) =>
      n -> xs.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e6
    }
  }

  /** The sidecar: every span and the per-name self times. */
  def write(path: java.nio.file.Path, extra: Map[String, Any]): Unit = {
    val spanRows = all.sortBy(_.startNs).map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "req" -> s.req, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "thread" -> s.thread)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path,
      Json.obj(Map("spans" -> spanRows, "self_ms" -> selfMs, "run" -> extra)) + "\n")
  }
}

object Tracer {
  final case class Span(id: Long, parent: Long, req: Long, name: String,
                        startNs: Long, endNs: Long, thread: String)
}

/** JSON for the result line, the sidecars and the listeners' answers
  * (Jackson, keys sorted). */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .configure(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS, true)

  def str(s: String): String = mapper.writeValueAsString(s)
  def obj(m: Map[String, Any]): String = mapper.writeValueAsString(m)
}
