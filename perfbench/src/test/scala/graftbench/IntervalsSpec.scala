package graftbench

import org.scalatest.funsuite.AnyFunSuite

class IntervalsSpec extends AnyFunSuite {
  private def span(a: Double, b: Double, id: Long = 0) = Span(id, 0, 1, "s", "engine", a, b)

  test("self time is the parent's duration minus what its children cover") {
    val parent = span(0, 100)
    assert(Intervals.selfTime(parent, Nil) == 100)
    assert(Intervals.selfTime(parent, Seq(span(10, 30), span(50, 60))) == 70)
  }

  test("overlapping children count once") {
    val parent = span(0, 100)
    assert(Intervals.selfTime(parent, Seq(span(10, 40), span(20, 50), span(45, 60))) == 50)
    assert(Intervals.selfTime(parent, Seq(span(10, 40), span(10, 40))) == 70)
  }

  test("children are clipped to the parent's interval") {
    val parent = span(100, 200)
    assert(Intervals.selfTime(parent, Seq(span(50, 120), span(190, 260))) == 70)
    assert(Intervals.selfTime(parent, Seq(span(0, 50), span(250, 300))) == 100)
    assert(Intervals.selfTime(parent, Seq(span(0, 300))) == 0)
  }

  test("per-operation layer times follow from the spans") {
    val op = Span(7, 0, 7, "point", "op", 0, 100, Map("rows" -> 1.0))
    val kids = Seq(
      Span(8, 7, 7, "analysis", "catalyst", 5, 15),
      Span(9, 7, 7, "execution", "engine", 20, 80),
      Span(10, 9, 7, "job", "engine", 30, 50, Map("records_read" -> 10.0)),
      Span(11, 9, 7, "job", "engine", 40, 70, Map("records_read" -> 30.0)))
    val t = Layers.group(op +: kids).head
    assert(t.jobWall == 40)
    assert(t.outsideQueries == 30)
    assert(t.driverGap == 50)
    val m = Layers.common(Seq(t), served = true)
    assert(m("service.self_ms") == 30)
    assert(m("engine.jobs_per_op") == 2)
    assert(m("engine.rows_read_per_row_returned") == 40)
    assert(m("catalyst.analysis_ms") == 10)
  }
}
