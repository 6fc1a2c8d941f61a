package perfbench

/** One traced interval. `parent` is the id of the span that caused it
  * (-1 for a root); all spans of one query or micro-batch share `trace`. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, trace: String) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder; spans are written out once, at exit. */
final class Tracer {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def record(name: String, startNs: Long, endNs: Long, parent: Int, trace: String): Int =
    synchronized {
      val id = nextId; nextId += 1
      spans += Span(id, name, startNs, endNs, parent, trace)
      id
    }

  def all: Seq[Span] = synchronized(spans.toSeq)

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":${s.parent},"trace":"${s.trace}"}""")
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** Self time of every span: its duration minus the part of its interval
    * covered by the union of its children (children clipped to it). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val children = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> (s.durNs - unionNs(children, s.startNs, s.endNs))
    }.toMap
  }

  /** Length of the union of `intervals` clipped to `[lo, hi]`. */
  def unionNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
        if (a >= end) (sum + b - a, b) else if (b > end) (sum + b - end, b) else (sum, end)
      }._1

  /** Summed self time per span name. */
  def selfByName(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }
}
