package perfbench

import scala.collection.mutable

/** In-memory span recorder for the traced run. A span has a name, start and
  * end (epoch microseconds), a parent span id and the id of the pass it
  * belongs to; [[json]] renders them all for the trace file written at exit.
  * When disabled, [[span]] only runs its body. */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val epochUs0 = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()
  @volatile var pass: Int = -1

  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000

  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Records `body` as a span, a child of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get.headOption.getOrElse(0)
      open.set(id :: open.get)
      val t0 = nowUs
      try body
      finally {
        open.set(open.get.tail)
        val t1 = nowUs
        synchronized { spans += Span(id, name, t0, t1, parent, pass) }
      }
    }

  /** Adds a finished span under `parent`, e.g. a Spark job or stage
    * reported by the listener in epoch milliseconds; returns its id. */
  def add(name: String, startMs: Long, endMs: Long, parent: Int): Int =
    if (!enabled) 0
    else {
      val id = ids.incrementAndGet()
      synchronized { spans += Span(id, name, startMs * 1000, endMs * 1000, parent, pass) }
      id
    }

  /** Id of the most recently closed span with `name`. */
  def last(name: String): Int = synchronized(spans.reverseIterator.find(_.name == name).map(_.id).getOrElse(0))

  def json: String = synchronized {
    spans.sortBy(_.startUs).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_us":${s.startUs},"end_us":${s.endUs},""" +
        s""""parent":${s.parent},"pass":${s.pass}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Trace {
  final case class Span(id: Int, name: String, startUs: Long, endUs: Long, parent: Int, pass: Int)
}

/** Minimal JSON rendering for the record, trace and result files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
