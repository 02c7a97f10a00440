package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** In-memory span recorder for traced runs: one span per call into a
  * layer (name, start, end, parent); spans of one query, flow node or
  * standing-model touch share an id. Spans are written out once, when
  * the run ends. With tracing off every call runs its body unrecorded.
  */
object Spans {
  final case class Span(name: String, id: String, parent: String,
      startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  @volatile var on = false
  private val buf = new ConcurrentLinkedQueue[Span]()

  def apply[T](name: String, id: String = "", parent: String = "")(
      body: => T): T =
    if (!on) body
    else {
      val s = System.nanoTime()
      try body finally buf.add(Span(name, id, parent, s, System.nanoTime()))
    }

  def all: Seq[Span] = buf.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val t0 = all.map(_.startNs).minOption.getOrElse(0L)
    val lines = all.sortBy(_.startNs).map { s =>
      Json(Map("name" -> s.name, "id" -> s.id, "parent" -> s.parent,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
    ()
  }
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => m.toSeq
      .map { case (k, x) => str(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
