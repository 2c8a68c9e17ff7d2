package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{Bench, SparkTestSession}

/** Every rule-pair twin bench line returns the same rows as the line it
  * is timed against: the twins share their registry query's text, and
  * only the session's rules and confs differ.
  */
class TwinEqualitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private lazy val lines = Bench.lines(None).map(l => l.name -> l).toMap

  private val pairs = Seq(
    "q244_ruleoff_smj" -> "q244_rule_broadcast_choice",
    "q245_ruleoff_written" -> "q245_rule_join_order",
    "q249_ruleoff_base" -> "q249_mv_rewrite",
    "q262_blindorder" -> "q262_rule_join_order_filtered",
    "q264_ruleoff_rowgrain" -> "q264_eager_aggregation",
    "q264_smj_rowgrain" -> "q264_eager_aggregation",
    "q264_smj_eager" -> "q264_eager_aggregation",
    "q266_ruleoff_events" -> "q266_mv_time_bucket",
    "q268_ruleoff_written" -> "q268_rule_join_order_composite",
    // both over the 16x wide events fixture: the scan vs the rollup's cells
    "q269w_scan16" -> "q269w_cells",
    "q270_ruleoff_rowgrain" -> "q270_mv_rollup_join",
    "q272_ruleoff_rowgrain" -> "q272_eager_mixed_grouping",
    "q273_ruleoff_rowgrain" -> "q273_eager_rollup",
    "q274_smj_rowgrain" -> "q274_eager_chain",
    "q274_smj_eager" -> "q274_eager_chain")

  pairs.foreach { case (twin, ref) =>
    test(s"$twin returns the same rows as $ref") {
      val dir = SparkTestSession.sf0001
      val a = lines(twin).run(spark, dir)
      val b = lines(ref).run(spark, dir)
      assert(a.columns.toSeq == b.columns.toSeq)
      assert(a.count() > 0)
      assert(a.exceptAll(b).isEmpty, s"$twin has rows $ref lacks")
      assert(b.exceptAll(a).isEmpty, s"$ref has rows $twin lacks")
    }
  }
}
