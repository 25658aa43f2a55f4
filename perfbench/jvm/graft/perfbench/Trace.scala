package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One layer-boundary span: the interval a call into one layer took, the
  * span that caused it, the run it belongs to, and the listener counts
  * taken at its two ends. */
final case class Span(id: Int, parent: Int, run: String, name: String, layer: String,
    startNs: Long, endNs: Long, counts: Map[String, Long])

/** In-memory span recorder. Nothing is written until [[Json.spans]] runs
  * at the end of the benchmark, so recording costs a few allocations. */
final class Trace(val run: String) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1

  /** Record a finished interval and return its id for child spans. */
  def add(parent: Int, name: String, layer: String, startNs: Long, endNs: Long,
      counts: Map[String, Long] = Map.empty): Int = {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, run, name, layer, startNs, endNs, counts)
    id
  }

  /** Close a span opened with `endNs == startNs` once its children ran. */
  def end(id: Int, endNs: Long): Unit = {
    val i = spans.indexWhere(_.id == id)
    spans(i) = spans(i).copy(endNs = endNs)
  }
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x }.toSeq)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def spans(ss: Iterable[Span]): String = ss.map { s =>
    obj(Seq("id" -> s.id, "parent" -> s.parent, "run" -> s.run, "name" -> s.name,
      "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "counts" -> s.counts))
  }.mkString("", "\n", "\n")
}
