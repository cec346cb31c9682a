package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. Spans are opened by the
  * harness around each call into an engine module (`span`), or added after
  * the fact from listener events whose timing the engine reports itself
  * (`add`: Spark stages, streaming trigger phases). Nothing is written until
  * `write` at the end of the run, so recording costs two clock reads and an
  * append per span. With tracing off, `span` only runs its body.
  */
object Trace {
  final case class Span(id: Int, name: String, layer: String, parent: Int,
                        startMs: Double, endMs: Double) {
    def ms: Double = endMs - startMs
  }

  @volatile var enabled = false
  var runId = ""
  private val t0Ns = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis()
  private val spans = ArrayBuffer.empty[Span]
  private val open = ArrayBuffer.empty[Int]

  def nowMs: Double = (System.nanoTime() - t0Ns) / 1e6
  /** An epoch-millisecond timestamp (as Spark reports them) on the span clock. */
  def fromEpochMs(epochMs: Long): Double = (epochMs - t0EpochMs).toDouble

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val (id, parent, start) = synchronized {
        val id = spans.size
        spans += null // reserve the id; filled in when the span closes
        val parent = open.lastOption.getOrElse(-1)
        open += id
        (id, parent, nowMs)
      }
      try body
      finally synchronized {
        open -= id
        spans(id) = Span(id, name, layer, parent, start, nowMs)
      }
    }

  /** A span timed elsewhere. Its parent is the innermost harness span that
    * is open when it is added, or -1 if none is.
    */
  def add(layer: String, name: String, startMs: Double, endMs: Double): Unit =
    if (enabled) synchronized {
      spans += Span(spans.size, name, layer, open.lastOption.getOrElse(-1),
        startMs, math.max(startMs, endMs))
    }

  def all: Seq[Span] = synchronized(spans.filter(_ != null).toSeq)

  /** Milliseconds of self time per layer: each span's duration minus the
    * durations of its direct children (floored at zero, since children
    * reported by Spark may overlap each other).
    */
  def selfTimeByLayer: Map[String, Double] = {
    val ss = all
    val childMs = ss.filter(_.parent >= 0).groupMapReduce(_.parent)(_.ms)(_ + _)
    ss.groupMapReduce(_.layer)(s => math.max(0.0, s.ms - childMs.getOrElse(s.id, 0.0)))(_ + _)
  }

  def write(path: String): Unit = {
    val lines = all.map { s =>
      Json.obj("run" -> Json.str(runId), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "layer" -> Json.str(s.layer),
        "name" -> Json.str(s.name), "start_ms" -> Json.num(s.startMs),
        "end_ms" -> Json.num(s.endMs))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}

/** Just enough JSON writing for the result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def nums(m: Iterable[(String, Double)]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*)
}
