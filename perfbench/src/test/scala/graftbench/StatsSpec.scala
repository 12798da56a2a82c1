package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentiles interpolate between ranks") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.percentile(Seq(10.0), 0.9) == 10.0)
    assert(Stats.percentile((1 to 11).map(_.toDouble), 0.9) == 10.0)
  }

  test("p90 is reportable only with ten samples beyond it") {
    assert(Stats.beyond(100, 0.9) == 10)
    assert(Stats.reportable(100, 0.9))
    assert(!Stats.reportable(99, 0.9))
    assert(!Stats.reportable(30, 0.9))
    assert(Stats.reportable(20, 0.5) && !Stats.reportable(19, 0.5))
  }

  test("covered time merges overlapping and nested intervals") {
    assert(Stats.covered(Nil) == 0)
    assert(Stats.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L), (22L, 25L))) == 25)
    assert(Stats.covered(Seq((5L, 5L), (7L, 6L))) == 0)
  }

  test("uncovered time clips inner intervals to the outer one") {
    assert(Stats.uncovered(10, 20, Seq((0L, 12L), (15L, 16L), (19L, 40L))) == 6)
    assert(Stats.uncovered(10, 20, Nil) == 10)
  }

  test("self time subtracts the union of a span's children only") {
    val spans = Seq(
      Span(0, "op", -1, 0, 0, 100),
      Span(1, "catalog.load", 0, 0, 0, 10),
      Span(2, "traversals.bfs", 0, 0, 10, 70),
      Span(3, "collect", 0, 0, 60, 90), // overlaps its sibling
      Span(4, "inner", 2, 0, 20, 30))
    val self = Tracer.selfTimes(spans)
    assert(self(0) == 10) // 100 minus the union [0, 90)
    assert(self(2) == 50) // its grandchild is not subtracted from op
    assert(self(3) == 30 && self(4) == 10)
  }
}
