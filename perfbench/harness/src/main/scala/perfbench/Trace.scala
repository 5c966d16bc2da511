package perfbench

import scala.collection.mutable

/** In-memory span recorder for the traced run. Every span has a name, the
  * layer it enters, start/end (`System.nanoTime`, written relative to the
  * run's first span) and its parent; all spans of one run share `runId`. Nothing is written until
  * the run ends ([[toJson]]). With `on = false` a span is a plain call. */
final class Tracer(val on: Boolean, val runId: String) {
  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  private var next = 0

  def apply[T](name: String, layer: String)(f: => T): T =
    if (!on) f
    else {
      val (id, parent) = synchronized {
        next += 1
        val p = stack.headOption.getOrElse(0)
        stack.push(next)
        (next, p)
      }
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        synchronized {
          stack.pop()
          spans += Span(id, parent, name, layer, t0, t1)
        }
      }
    }

  /** A span observed after the fact (streaming progress events arrive on
    * listener threads with their own timing). */
  def record(name: String, layer: String, startNs: Long, endNs: Long): Unit =
    if (on) synchronized {
      next += 1
      spans += Span(next, 0, name, layer, startNs, endNs)
    }

  /** Seconds per layer spent in that layer's own spans, excluding time
    * in child spans (which may belong to another layer). */
  def selfSecondsByLayer: Map[String, Double] = synchronized {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.end - s.start - childNs(s.id)).max(0L)).sum / 1e9
    }
  }

  def toJson: String = synchronized {
    val t0 = spans.map(_.start).minOption.getOrElse(0L)
    spans.sortBy(_.start).map { s =>
      Json.obj(Seq("run" -> Json.str(runId), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer),
        "start_ms" -> Json.num((s.start - t0) / 1e6),
        "end_ms" -> Json.num((s.end - t0) / 1e6)))
    }.mkString("[", ",\n", "]")
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, layer: String,
      start: Long, end: Long)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def nums(kv: Iterable[(String, Double)]): String =
    obj(kv.map { case (k, v) => k -> num(v) })
}
