package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** One recorded interval around a call into a layer. `op` groups the spans
  * of one operation (a request, a micro-batch or a job). */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      op: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans nest per thread: a span opened while
  * another is open on the same thread becomes its child. Nothing is written
  * until the run ends. When disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[A](layer: String, name: String, op: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.synchronized {
          spans += Span(id, parents.headOption.getOrElse(-1), layer, name, op, t0, t1)
        }
      }
    }

  def recorded: Seq[Span] = spans.synchronized(spans.toVector)
}

object Trace {

  /** Self time of every span: its duration minus the part of its interval
    * covered by its children. Overlapping children (spans opened on other
    * threads under the same parent) are merged first, so no instant of a
    * parent is subtracted twice; children are clipped to the parent. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
      s.id -> (s.durNs - coveredNs(iv))
    }.toMap
  }

  /** Length of the union of half-open intervals. */
  def coveredNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Per-layer totals: (span count, self time in ns). */
  def layerSelf(spans: Seq[Span]): Map[String, (Int, Long)] = {
    val self = selfTimes(spans)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ((ss.size, ss.map(s => self(s.id)).sum))
    }
  }

  /** The spans as JSON lines, for the trace file written at the end. */
  def toJsonLines(spans: Seq[Span]): Iterator[String] = {
    val self = selfTimes(spans)
    spans.sortBy(_.startNs).iterator.map { s =>
      Json.obj(
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "op" -> s.op, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "self_ns" -> self(s.id))
    }
  }
}

object Stats {

  /** Percentile by linear interpolation between closest ranks (the
    * definition numpy and Python's `statistics.quantiles(method=
    * "inclusive")` use). `q` in [0, 100]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(q >= 0 && q <= 100, s"percentile $q out of range")
    val s = xs.sorted
    val pos = (s.size - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Samples strictly above the `q` percentile, printed next to each tail
    * figure: a tail percentile is trustworthy when ten or more lie beyond. */
  def beyond(xs: Seq[Double], q: Double): Int = {
    val p = percentile(xs, q)
    xs.count(_ > p)
  }
}

/** Open-loop schedule arithmetic: tick `i` is due at `startNs + i * periodNs`
  * whether or not the system kept up, so a stall shows as lateness of the
  * generator and as waiting in the latency of later events. */
final case class OpenLoop(startNs: Long, periodNs: Long) {
  require(periodNs > 0, "period must be positive")

  def dueNs(tick: Long): Long = startNs + tick * periodNs

  /** How late the generator issued tick `i` (never negative). */
  def lateNs(tick: Long, issuedNs: Long): Long = math.max(0L, issuedNs - dueNs(tick))

  /** Latency of an event of tick `i` completed at `doneNs`, measured from
    * when it was due rather than from when it was issued. */
  def latencyNs(tick: Long, doneNs: Long): Long = doneNs - dueNs(tick)
}
