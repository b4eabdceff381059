package piqibench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("covered length merges overlaps and clips to the window") {
    assert(Intervals.covered(Nil, 0, 100) == 0)
    assert(Intervals.covered(Seq((10L, 30L), (20L, 50L), (90L, 120L)), 0, 100) == 50)
    assert(Intervals.covered(Seq((0L, 10L), (10L, 20L)), 0, 100) == 20)
    assert(Intervals.covered(Seq((-5L, 200L)), 0, 100) == 100)
    assert(Intervals.covered(Seq((150L, 200L)), 0, 100) == 0)
  }

  test("self time subtracts direct children only, and nests") {
    val spans = Seq(
      Span(1, "iteration", 0, 1, 0, 100),
      Span(2, "a", 1, 1, 10, 40),
      Span(3, "a.child", 2, 1, 15, 35),
      Span(4, "b", 1, 1, 30, 60), // overlaps a (a call on another thread)
      Span(5, "c", 1, 1, 90, 130)) // runs past its parent's end
    val self = Intervals.selfTime(spans)
    assert(self(1) == 100 - 50 - 10)
    assert(self(2) == 30 - 20)
    assert(self(3) == 20)
    assert(self(4) == 30)
    assert(self(5) == 40)
    // self times of a tree add up to the root's wall time when children
    // stay inside their parents and do not overlap
    val tree = Seq(Span(1, "r", 0, 1, 0, 100), Span(2, "x", 1, 1, 0, 50), Span(3, "y", 2, 1, 10, 20),
      Span(4, "z", 1, 1, 60, 70))
    assert(Intervals.selfTime(tree).values.sum == 100)
  }

  test("percentiles keep at least ten samples above them") {
    assert(Stats.highPercentile((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.highPercentile((1 to 20).map(_.toDouble)).contains(50 -> 10.0))
    assert(Stats.highPercentile((1 to 100).map(_.toDouble)).contains(90 -> 90.0))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }
}
