package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Spans recorded by the benchmark around each call into an engine
  * layer: name, start, end, parent span and the operation (tick,
  * request or pass) it belongs to, plus a row count taken at the same
  * boundary. Kept in memory while the run lasts and written out when it
  * ends. A disabled tracer records nothing and costs one branch. */
final class Trace {
  import Trace.Span

  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]
  private val current = new ThreadLocal[(Long, Long)] // (span id, op id)

  /** Times `f` as a span named `name`, child of this thread's open span
    * (or of `parent` when given, for work another thread does on an
    * operation's behalf). `rows` reads a count off the result. */
  def span[T](name: String, op: Long = -1, parent: Long = -1,
              rows: Any => Long = _ => -1L)(f: => T): T = {
    if (!enabled) return f
    val outer = Option(current.get)
    val pid = if (parent >= 0) parent else outer.map(_._1).getOrElse(0L)
    val oid = if (op >= 0) op else outer.map(_._2).getOrElse(0L)
    val id = ids.incrementAndGet()
    current.set(id -> oid)
    val t0 = System.nanoTime()
    try {
      val r = f
      spans.add(Span(id, pid, oid, name, t0, System.nanoTime(), rows(r)))
      r
    } finally {
      if (outer.isDefined) current.set(outer.get) else current.remove()
    }
  }

  /** Id of this thread's open span (0 when none). */
  def openSpan: Long = Option(current.get).map(_._1).getOrElse(0L)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span: its duration minus the union of the intervals
    * its children cover (children on other threads may overlap). */
  def selfMs: Seq[(Span, Double)] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(p => p._2 > p._1).sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a >= end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      s -> ((s.endNs - s.startNs - covered) / 1e6)
    }
  }

  /** Spans as JSON lines, for the trace file. */
  def jsonLines(t0: Long): Iterator[String] = selfMs.iterator.map { case (s, self) =>
    Json.mapper.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "name" -> s.name, "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
      "self_ms" -> self, "rows" -> s.rows))
  }
}

object Trace {
  final case class Span(id: Long, parent: Long, op: Long, name: String,
                        startNs: Long, endNs: Long, rows: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }
}

/** JSON output of the run: result, record and span lines. */
object Json {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
}
