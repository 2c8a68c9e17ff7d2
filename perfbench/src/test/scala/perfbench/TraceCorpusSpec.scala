package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceCorpusSpec extends AnyFunSuite {

  private val spec = TraceCorpus.Spec(files = 6, rowsPerFile = 400, seed = 7)
  private val rows = (0 until spec.files).map(f => f -> TraceCorpus.fileRows(spec, f))

  test("the same seed gives the same corpus, another seed another") {
    assert(TraceCorpus.fileRows(spec, 4) == TraceCorpus.fileRows(spec, 4))
    assert(TraceCorpus.fileRows(spec.copy(seed = 8), 4) != TraceCorpus.fileRows(spec, 4))
  }

  test("three column sets, each with a column the others lack") {
    val sets = TraceCorpus.schemas.map(_.fieldNames.toSet)
    assert(sets.size == 3)
    sets.indices.foreach(i => assert((sets(i) -- sets.patch(i, Nil, 1).flatten).nonEmpty))
  }

  test("durations straddle both thresholds and the per-operand truncation matters") {
    val pairs = rows.flatMap(_._2).map(r => (r.getLong(0), r.getLong(1)))
    val ms = pairs.map { case (s, e) => e / 1000000L - s / 1000000L }
    assert(ms.exists(_ < TraceCorpus.MinDurationMs))
    assert(ms.exists(m => m >= TraceCorpus.MinDurationMs && m < TraceCorpus.LongDurationMs))
    assert(ms.exists(_ >= TraceCorpus.LongDurationMs))
    assert(ms.contains(0L))
    assert(pairs.exists { case (s, e) => (e - s) / 1000000L != e / 1000000L - s / 1000000L })
  }

  test("exact duplicates, zeros and empty strings occur") {
    rows.foreach { case (_, rs) => assert(rs.distinct.size < rs.size) }
    val values = rows.flatMap(_._2).flatMap(_.toSeq)
    assert(values.contains(""))
    assert(values.contains(0) || values.contains(0L))
  }

  test("expected results dedup across the union schema and keep the long slice inside the full set") {
    val e = TraceCorpus.expected(spec)
    val kept = rows.flatMap { case (f, rs) =>
      rs.map(r => (f % 3, r, r.getLong(1) / 1000000L - r.getLong(0) / 1000000L))
    }.filter(_._3 >= TraceCorpus.MinDurationMs)
    assert(e.fullRows == kept.map(k => (k._1, k._2)).distinct.size)
    assert(e.fullRows < kept.size)
    assert(e.longRows > 0 && e.longRows < e.fullRows)
    assert(e.longDurationSum < e.fullDurationSum)
    assert(e.columns == TraceCorpus.columns + "duration_ms")
  }
}
