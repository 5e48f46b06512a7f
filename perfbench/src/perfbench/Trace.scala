package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder. A span has a name, a layer, start/end in
  * epoch microseconds, a parent span id and the run id. Spans are kept
  * in memory while the run goes and written as JSON lines at its end.
  * When tracing is off, `span` only runs its body. */
object Trace {
  final case class Span(id: Long, parent: Long, layer: String, name: String,
      startUs: Long, endUs: Long)

  @volatile var enabled = false
  var runId = ""
  private val spans = ArrayBuffer[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }

  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  def nextId(): Long = ids.incrementAndGet()
  def current: Long = stack.get.headOption.getOrElse(0L)

  def record(s: Span): Unit = if (enabled) spans.synchronized { spans += s }

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId()
      val parent = current
      val t0 = nowUs()
      stack.set(id :: stack.get)
      try body
      finally {
        stack.set(stack.get.tail)
        record(Span(id, parent, layer, name, t0, nowUs()))
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per layer: a span's duration minus the part of its
    * interval that its children cover, summed by layer (milliseconds). */
  def selfMsByLayer(): Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, group) =>
      layer -> group.map { s =>
        val covered = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var total = 0L
        var curA = -1L
        var curB = -1L
        for ((a, b) <- covered) {
          if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) total += curB - curA
        (s.endUs - s.startUs - total) / 1000.0
      }.sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    for (s <- all) {
      sb.append(Json.obj(Seq("run" -> Json.str(runId), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "layer" -> Json.str(s.layer),
        "name" -> Json.str(s.name), "start_us" -> s.startUs.toString,
        "end_us" -> s.endUs.toString))).append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Minimal JSON writer: values are passed already rendered. */
object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
