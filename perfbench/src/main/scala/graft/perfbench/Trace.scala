package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One traced interval. Times are epoch milliseconds with a fractional
  * part (nanoTime-derived), so spans from the benchmark and Spark jobs
  * (whose listener events carry epoch millis) share one clock.
  */
final case class Span(id: Int, parent: Int, name: String, runId: String,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

/** In-memory span recorder. With tracing off every call still runs its
  * body but records nothing, so the untraced path pays one branch.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()

  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  def current: Int = stack.headOption.getOrElse(0)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = current
      val t0 = nowMs
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, runId, t0, nowMs)
      }
    }

  /** Record an interval observed elsewhere (a Spark job) under `parent`. */
  def add(parent: Int, name: String, start: Double, end: Double): Unit =
    if (enabled) { spans += Span(nextId, parent, name, runId, start, end); nextId += 1 }

  def all: Seq[Span] = spans.toSeq
}

object Trace {

  /** Intervals clipped to [lo, hi], with overlapping ones merged. */
  def merge(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft(List.empty[(Double, Double)]) {
        case ((ps, pe) :: rest, (s, e)) if s <= pe => (ps, math.max(pe, e)) :: rest
        case (acc, iv) => iv :: acc
      }.reverse

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    merge(intervals, lo, hi).map { case (s, e) => e - s }.sum

  /** A span's duration minus the union of its children's intervals. */
  def selfTime(span: Span, children: Seq[Span]): Double =
    span.dur - unionLength(children.map(c => (c.start, c.end)), span.start, span.end)

  /** Self time of every span, by id. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> selfTime(s, kids.getOrElse(s.id, Nil))).toMap
  }

  def toJson(spans: Seq[Span]): String = {
    val self = selfTimes(spans)
    spans.sortBy(_.id).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${Json.esc(s.name)}","run":"${s.runId}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f,"self_ms":${self(s.id)}%.3f}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Stats {

  /** Median, interpolated between the middle two of an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
