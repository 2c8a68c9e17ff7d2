package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {

  // op 0..100 holds read 10..30 and sink 40..90; the sink holds commit 60..80.
  private val spans = Seq(
    Span(0, "etl.job", "j1", -1, 0, 100),
    Span(1, "sources.read", "j1", 0, 10, 30),
    Span(2, "sinks.csv_full", "j1", 0, 40, 90),
    Span(3, "commit", "j1", 2, 60, 80),
    Span(4, "etl.job", "j2", -1, 200, 250),
    Span(5, "sources.read", "j2", 4, 200, 240))

  test("self time is the span minus its direct children") {
    val self = Span.selfNanos(spans)
    assert(self == Map(0 -> 30L, 1 -> 20L, 2 -> 30L, 3 -> 20L, 4 -> 10L, 5 -> 40L))
  }

  test("self times of a tree sum to its root's duration") {
    val self = Span.selfNanos(spans)
    for (root <- spans.filter(_.parent < 0))
      assert(Span.subtree(spans, root.id).toSeq.map(self).sum == root.nanos)
  }

  test("self time by name adds up every span of that name") {
    assert(Span.selfByName(spans) ==
      Map("etl.job" -> 40L, "sources.read" -> 60L, "sinks.csv_full" -> 30L, "commit" -> 20L))
  }

  test("subtree holds the root and every descendant, and nothing else") {
    assert(Span.subtree(spans, 0) == Set(0, 1, 2, 3))
    assert(Span.subtree(spans, 2) == Set(2, 3))
    assert(Span.subtree(spans, 4) == Set(4, 5))
  }
}
