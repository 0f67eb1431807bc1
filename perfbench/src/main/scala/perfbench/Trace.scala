package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

/** One timed interval. `parent` is the id of the enclosing span (0 = root).
  * Times are `System.nanoTime` readings. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    start: Long, end: Long) {
  def nanos: Long = end - start
}

/** In-memory span recorder for the traced run. Spans are opened only by
  * the benchmark's own code around calls into a layer's public functions
  * (plus the Spark jobs the listener attributes to an operation); nothing
  * inside the engine is instrumented. When inactive, [[span]] is a plain
  * call with no bookkeeping. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  /** Spans and job attribution are recorded only while active. */
  @volatile var active: Boolean = false

  def nextId(): Long = ids.incrementAndGet()

  /** Id of the innermost open span on this thread (0 when none). */
  def current: Long = stack.get.headOption.getOrElse(0L)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!active) body else open(layer, name)(_ => body)

  /** Like [[span]] but always records, and hands the span id to `body`. */
  def open[T](layer: String, name: String)(body: Long => T): T = {
    val id = nextId()
    val parent = current
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      record(Span(id, parent, layer, name, t0, t1))
    }
  }

  def record(s: Span): Unit = done.synchronized { done += s }

  def spans: Seq[Span] = done.synchronized(done.toList)

  /** Writes one JSON object per span to `path`. */
  def writeTo(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.start).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},""")
        .append(s""""name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}""")
        .append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {

  /** Self time of every span: its duration minus the part of it covered
    * by its children. Children may overlap each other (concurrent Spark
    * jobs of one operation), so the covered part is the length of the
    * UNION of the children's intervals, clipped to the parent. */
  def selfNanos(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
      s.id -> (s.nanos - unionLength(iv))
    }.toMap
  }

  /** Spark job spans arrive from the listener as children of their
    * operation; re-parent each to the operation's child span (the action
    * that submitted it) that was open when the job started, so the
    * action's self time is its driver-side share. */
  def nestJobs(spans: Seq[Span]): Seq[Span] = {
    val kids = spans.filter(_.layer != "spark").groupBy(_.parent)
    spans.map { s =>
      if (s.layer != "spark") s
      else kids.getOrElse(s.parent, Nil)
        .filter(c => c.start <= s.start && s.start <= c.end)
        .maxByOption(_.start).map(c => s.copy(parent = c.id)).getOrElse(s)
    }
  }

  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Summed self time per layer, in seconds. */
  def layerSelfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val self = selfNanos(spans)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => self(s.id)).sum / 1e9
    }
  }
}

/** Minimal JSON text helpers (the harness has no JSON library). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    v.toString
  }
}
