package graftbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {

  // pass [0, 100) ─┬─ op a [10, 40) ── build [15, 20)
  //                └─ op b [30, 60)   (overlaps a)
  private val tree = Seq(
    Span(1, 0, "pass", "pass", 0, 100),
    Span(2, 1, "a", "op", 10, 40),
    Span(3, 2, "build", "build", 15, 20),
    Span(4, 1, "b", "op", 30, 60),
  )

  test("self time is the duration minus the union of the children") {
    assert(Spans.selfTimes(tree) == Map(1 -> 50L, 2 -> 25L, 3 -> 5L, 4 -> 30L))
  }

  test("self times of a tree without overlaps add up to the root's duration") {
    val flat = tree.map(s => if (s.id == 4) s.copy(startUs = 40) else s)
    assert(Spans.selfTimes(flat).values.sum == 100L)
  }

  test("coverage is clipped to the parent's interval") {
    assert(Spans.covered(10, 20, Seq((0L, 12L), (18L, 30L), (11L, 13L))) == 5L)
    assert(Spans.covered(10, 20, Seq((20L, 30L), (0L, 10L))) == 0L)
  }

  test("subtree and the innermost span at an instant") {
    assert(Spans.subtree(tree, 2) == Set(2, 3))
    assert(Spans.subtree(tree, 1) == Set(1, 2, 3, 4))
    assert(Spans.innermostAt(tree, 16) == 3)
    assert(Spans.innermostAt(tree, 50) == 4)
    assert(Spans.innermostAt(tree, 100) == 0)
  }
}
