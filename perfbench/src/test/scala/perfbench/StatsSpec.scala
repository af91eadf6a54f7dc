package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median and interpolated quantiles") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
  }

  test("a tail percentile needs ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    // p90 of 1..100 is 90.1: 91..100 lie beyond it
    assert(Stats.beyond(hundred, 90) == 10)
    assert(Stats.tail(hundred, Seq(99, 95, 90)).map(_._1).contains(90))
    val fifty = (1 to 50).map(_.toDouble)
    assert(Stats.tail(fifty, Seq(90, 80, 75)).map(_._1).contains(80))
    assert(Stats.tail((1 to 9).map(_.toDouble), Seq(90, 50)).isEmpty)
  }

  test("geometric mean") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(1.0, 0.0)))
  }

  test("MB/s uses 10^6 bytes and ratios refuse a zero base") {
    assert(Stats.mbPerS(5000000L, 2.0) == 2.5)
    assert(Stats.ratio(3, 4) == 0.75)
    assertThrows[IllegalArgumentException](Stats.ratio(1, 0))
    assertThrows[IllegalArgumentException](Stats.mbPerS(1L, 0.0))
  }

  test("self time subtracts the union of child intervals") {
    val spans = Seq(
      Span(0, "op", -1, 0, 0, 100),
      Span(1, "a", 0, 0, 10, 40),
      Span(2, "b", 0, 0, 30, 60), // overlaps a: 10..60 covered once
      Span(3, "c", 1, 0, 15, 20), // a grandchild: counts against a only
      Span(4, "d", 0, 0, 90, 120)) // runs past its parent: clipped
    val self = Trace.selfNanos(spans)
    assert(self(0) == 100 - 50 - 10)
    assert(self(1) == 30 - 5)
    assert(self(3) == 5)
    assert(Trace.union(Seq((0L, 5L), (3L, 8L), (10L, 12L))) == 10)
  }

  test("tracer nests spans under one operation and times disabled bodies") {
    val t = new Tracer(true)
    t.operation { t.timed("outer")(t.timed("inner")(())) }
    val Seq(inner, outer) = t.spans
    assert(inner.parent == outer.id && inner.op == outer.op)
    val off = new Tracer(false)
    val (v, s) = off.timed("x")(42)
    assert(v == 42 && s >= 0 && off.spans.isEmpty)
  }

  test("the result line has exactly the four keys") {
    val line = Metrics.resultLine(3, 1, Seq(("setup_s", 1.5, "s")))
    assert(line == """{"correct": false, "attempted": 3, "failed": 1, "metrics": """ +
      """{"setup_s": {"value": 1.5, "unit": "s"}}}""")
  }
}
