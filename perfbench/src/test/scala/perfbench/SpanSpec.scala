package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {

  private def span(id: Int, parent: Option[Int], start: Long, end: Long) = Span(id, s"s$id", parent, "run", start, end)

  test("covered time is the union of intervals, clipped to the window") {
    assert(Span.coveredNs(0, 100, Nil) == 0)
    assert(Span.coveredNs(0, 100, Seq((10L, 20L), (30L, 40L))) == 20)
    // overlapping and nested intervals count once
    assert(Span.coveredNs(0, 100, Seq((10L, 30L), (20L, 40L), (25L, 26L))) == 30)
    // clipped at both ends; disjoint-from-window intervals add nothing
    assert(Span.coveredNs(50, 100, Seq((40L, 60L), (90L, 120L), (200L, 300L))) == 20)
    // touching intervals merge without double counting
    assert(Span.coveredNs(0, 100, Seq((0L, 50L), (50L, 100L))) == 100)
  }

  test("self time subtracts direct children only, overlapping children once") {
    val spans = Seq(
      span(0, None, 0, 100),
      span(1, Some(0), 10, 40),
      span(2, Some(0), 30, 60), // overlaps child 1 by 10
      span(3, Some(1), 15, 35), // grandchild: counts against span 1, not span 0
      span(4, None, 200, 250)
    )
    val self = Span.selfTimes(spans)
    assert(self(0) == 100 - 50)
    assert(self(1) == 30 - 20)
    assert(self(2) == 30)
    assert(self(3) == 20)
    assert(self(4) == 50)
  }

  test("a child running past its parent's end only covers the parent's interval") {
    val self = Span.selfTimes(Seq(span(0, None, 0, 10), span(1, Some(0), 5, 20)))
    assert(self(0) == 5)
  }
}
