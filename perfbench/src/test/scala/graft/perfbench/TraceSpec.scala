package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, layer: String, start: Long, end: Long) =
    Span(id, parent, layer, s"s$id", "op", start, end)

  test("self time subtracts children once, even when they overlap") {
    val spans = Seq(
      span(0, -1, "harness", 0, 100),
      span(1, 0, "plans", 10, 40),
      span(2, 0, "plans", 30, 60), // overlaps span 1 on 30..40
      span(3, 1, "model", 15, 20))
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - 50) // children cover 10..60
    assert(self(1) == 30 - 5)
    assert(self(2) == 30)
    assert(self(3) == 5)
  }

  test("children are clipped to their parent's interval") {
    val spans = Seq(span(0, -1, "ops", 10, 20), span(1, 0, "model", 5, 15), span(2, 0, "model", 18, 30))
    assert(Trace.selfTimes(spans)(0) == 10 - 5 - 2)
  }

  test("covered length of an interval union") {
    assert(Trace.coveredNs(Nil) == 0)
    assert(Trace.coveredNs(Seq((0L, 10L), (5L, 15L), (20L, 25L), (21L, 22L))) == 20)
    assert(Trace.coveredNs(Seq((3L, 4L), (0L, 1L))) == 2)
  }

  test("per-layer totals sum self time by layer") {
    val spans = Seq(span(0, -1, "harness", 0, 100), span(1, 0, "plans", 0, 60), span(2, 1, "plans", 10, 20))
    assert(Trace.layerSelf(spans) == Map("harness" -> ((1, 40L)), "plans" -> ((2, 60L))))
  }

  test("the recorder nests spans per thread and records nothing when off") {
    val t = new Tracer(true)
    t.span("harness", "outer", "op1") {
      t.span("plans", "inner", "op1")(())
    }
    val Seq(inner, outer) = t.recorded
    assert(inner.parent == outer.id && outer.parent == -1)
    assert(inner.startNs >= outer.startNs && inner.endNs <= outer.endNs)
    val off = new Tracer(false)
    assert(off.span("x", "y")(42) == 42 && off.recorded.isEmpty)
  }

  test("a span is recorded even when its body throws") {
    val t = new Tracer(true)
    intercept[IllegalStateException](t.span("ops", "boom")(throw new IllegalStateException("x")))
    assert(t.recorded.map(_.name) == Seq("boom"))
    t.span("ops", "next")(())
    assert(t.recorded.forall(_.parent == -1))
  }

  test("percentiles interpolate between closest ranks") {
    val xs = (1 to 11).map(_.toDouble)
    assert(Stats.median(xs) == 6.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 11.0)
    assert(Stats.percentile(xs, 95) == 10.5)
    assert(Stats.percentile(Seq(1.0, 2.0), 50) == 1.5)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
    intercept[IllegalArgumentException](Stats.percentile(Nil, 50))
  }

  test("a tail percentile needs ten samples beyond it") {
    val xs = (1 to 200).map(_.toDouble)
    assert(Stats.beyond(xs, 95) == 10)
    assert(Stats.beyond((1 to 100).map(_.toDouble), 95) == 5)
  }

  test("open-loop lateness and latency run from the due time") {
    val loop = OpenLoop(startNs = 1000, periodNs = 100)
    assert(loop.dueNs(0) == 1000 && loop.dueNs(5) == 1500)
    assert(loop.lateNs(5, 1490) == 0)
    assert(loop.lateNs(5, 1530) == 30)
    // A stall that delays the issue of tick 5 still counts from its due time.
    assert(loop.latencyNs(5, 1800) == 300)
    intercept[IllegalArgumentException](OpenLoop(0, 0))
  }
}
