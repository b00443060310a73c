package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  private def span(name: String, parent: Int, start: Long, end: Long) =
    Span(name, parent, start, end, Counts.Zero)

  test("self time is the duration minus the union of the children") {
    val spans = Vector(
      span("run", -1, 0, 100),
      span("a", 0, 10, 30),
      span("b", 0, 25, 50), // overlaps a: the union [10, 50) counts once
      span("a.child", 1, 12, 18),
      span("c", 0, 90, 120)) // runs past its parent: only [90, 100) counts
    assert(Spans.selfNs(spans) == Vector(100 - 40 - 10, 20 - 6, 25, 6, 30))
  }

  test("unattributed time is the root's duration minus its descendants' self times") {
    val spans = Vector(
      span("run", -1, 0, 100),
      span("stage", 0, 0, 60),
      span("compute", 1, 0, 20),
      span("checkpoint", 1, 20, 55),
      span("other", -1, 100, 200),
      span("stats", 0, 70, 90))
    // descendants' self: stage 5, compute 20, checkpoint 35, stats 20
    assert(Spans.unattributedNs(spans, 0) == 100 - 80)
    assert(Spans.unattributedNs(spans, 4) == 100)
  }

  test("the tracer nests spans and records their parents") {
    val t = new Tracer(None)
    t.span("run") { t.span("x")(()); t.span("y")(t.span("z")(())) }
    val s = t.result
    assert(s.map(_.name) == Vector("run", "x", "y", "z"))
    assert(s.map(_.parent) == Vector(-1, 0, 0, 2))
    assert(s.forall(x => x.endNs >= x.startNs))
    assert(Spans.unattributedNs(s, 0) >= 0)
  }
}
