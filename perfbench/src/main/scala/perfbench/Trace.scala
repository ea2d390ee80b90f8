package perfbench

import scala.collection.mutable

/** In-memory span recorder for the traced run. Spans nest on the single
  * client thread; each records its name, start, end, parent and pass.
  * When tracing is off, `span` runs the body and records nothing. */
final class Trace(val enabled: Boolean) {
  final case class Span(id: Int, name: String, startNs: Long, var endNs: Long,
      parent: Int, pass: Int)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var pass: Int = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.length, name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), pass)
      spans += s
      stack = s.id :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Seconds of every finished span called `name` in pass `p`. */
  def durations(name: String, p: Int): Seq[Double] =
    spans.iterator.filter(s => s.name == name && s.pass == p && s.endNs > 0)
      .map(s => (s.endNs - s.startNs) / 1e9).toSeq

  def toJson: String = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_us":${(s.startNs - t0) / 1000},""" +
        s""""end_us":${(s.endNs - t0) / 1000},"parent":${s.parent},"pass":${s.pass}}"""
    }.mkString("[", ",\n", "]")
  }
}

/** Minimal JSON writing; the harness only emits numbers, strings,
  * arrays and objects. */
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
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
