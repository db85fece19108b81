package graftbench

import scala.collection.mutable.ArrayBuffer

/** One traced interval. `parent` is the enclosing span's id (-1 at the
  * top) and `op` the operation the span belongs to. Times are
  * nanoseconds from the tracer's origin. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double]) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. When disabled every call is a plain
  * function call, so untraced runs carry no recording cost; traced runs
  * keep spans in memory and write them out once, after the run. */
final class Tracer(val enabled: Boolean) {
  private val origin = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var currentOp = -1

  def all: Seq[Span] = spans.toSeq

  /** Mark the start of operation `op`; spans opened from here belong to it. */
  def operation(op: Int): Unit = currentOp = op

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val t0 = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, currentOp, name, t0 - origin, System.nanoTime() - origin, Map.empty)
      }
    }

  /** Attach counters to the most recent span called `name`. */
  def annotate(name: String, attrs: Map[String, Double]): Unit =
    if (enabled) {
      val i = spans.lastIndexWhere(_.name == name)
      if (i >= 0) spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs)
    }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    sb.append("[\n")
    spans.sortBy(_.startNs).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""")
      sb.append(s""""start_s":${s.startNs / 1e9},"end_s":${s.endNs / 1e9}""")
      if (s.attrs.nonEmpty)
        sb.append(""","attrs":""").append(Json.obj(s.attrs.toSeq.sortBy(_._1).map {
          case (k, v) => k -> Json.num(v) }))
      sb.append("}")
    }
    sb.append("\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Minimal JSON rendering for the harness's own outputs. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
