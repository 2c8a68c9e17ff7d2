package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's line set and its timing rule without running Spark
  * work: the declared families must reproduce the line lists the bench
  * timed before the lines moved onto the registry, in the same order.
  */
class BenchLinesSpec extends AnyFunSuite {

  /** Every multi-line family, in timing order, as the bench ran them
    * before the protocol change. */
  private val families: Map[String, Seq[String]] = Map(
    "q102_split_leakage" -> Seq("dupgraph_build", "q102_split_leakage"),
    "q138_dup_pagerank" -> Seq("dupgraph_derive", "q138_dup_pagerank"),
    "q144_canonical_routing" -> Seq("dupgraph_serving", "q144_canonical_routing"),
    "q149_incremental_ranks" -> Seq("dupgraph_touched", "q149_incremental_ranks"),
    "q206_bpe_token_budget" -> Seq("bpeenc_build", "q206_bpe_token_budget"),
    "q213_curation_capstone_v3" -> Seq("semkept_build", "q213_curation_capstone_v3"),
    "q198_cdc_stored_probe" -> Seq("cdcfp_build", "q198_cdc_stored_probe"),
    "q152_serving_refresh" -> Seq("dupgraph_refresh_delta", "dupgraph_refresh", "q152_serving_refresh"),
    "q64_bucketed_join" -> Seq("q64_bucketed_build", "q64_bucketed_join"),
    "q79_ann_ivf_index" -> Seq("q79_ivf_build", "q79_ann_ivf_index"),
    "q85_ann_ivf_trained" -> Seq("q85_kmeans_train", "q85_ann_ivf_trained"),
    "q156_ivf_delta_probe" -> Seq("q156_ivf_base_build", "q156_ivf_delta_append", "q156_ivf_delta_probe"),
    "q226_lsh_star_capped" -> Seq("q226_sig_mine_full", "q226_star_mine_full", "q226_uncapped_mine_full", "q226_lsh_star_capped"),
    "q228_ivf_compacted_probe" -> Seq("q228_ivf_compact", "q228_ivf_compacted_probe"),
    "q157_benchmark_fold" -> Seq("q157_decontam_v1_build", "q157_benchmark_fold"),
    "q160_hll_sketch_fold" -> Seq("q160_hll_stored_build", "q160_hll_sketch_fold"),
    "q162_countmin_fold" -> Seq("q162_cm_stored_build", "q162_countmin_fold"),
    "q163_hdr_sketch_fold" -> Seq("q163_hdr_stored_build", "q163_hdr_sketch_fold"),
    "q164_kmv_fold" -> Seq("q164_kmv_stored_build", "q164_kmv_fold"),
    "q167_dup_triangles" -> Seq("q167_tri_build", "q167_dup_triangles"),
    "q173_twin_fold" -> Seq("q173_twinfp_stored_build", "q173_twin_fold", "q173_bounded_fold", "q173_bounded_rebuild", "q173_scaledfp_build", "q173_scaled16_fold", "q173_scaled16_rebuild", "q173_scaledfp_hash"),
    "q176_truss_peel" -> Seq("q176_peel_build", "q176_truss_peel"),
    "q178_triangle_refresh" -> Seq("q178_twinffp_fold", "q178_tri_refresh", "q178_triangle_refresh", "q178_scaledffp_fold", "q178_scaled16_refresh", "q178_scaled16_rebuild"),
    "q166_zorder_compaction" -> Seq("q166_zbase_write", "q166_zingest", "q166_zorder_compaction"),
    "q244_rule_broadcast_choice" -> Seq("q244_ruleoff_smj", "q244_rule_broadcast_choice"),
    "q245_rule_join_order" -> Seq("q245_ruleoff_written", "q245_rule_join_order"),
    "q246_rule_conjunct_order" -> Seq("histcat_build", "q246_rule_conjunct_order"),
    "q254_rule_conjunct_equality" -> Seq("mcvcat_build", "q254_rule_conjunct_equality"),
    "q262_rule_join_order_filtered" -> Seq("q262_blindorder", "q262_rule_join_order_filtered"),
    "q268_rule_join_order_composite" -> Seq("q268_ruleoff_written", "q268_rule_join_order_composite"),
    "q264_eager_aggregation" -> Seq("q264_ruleoff_rowgrain", "q264_smj_rowgrain", "q264_smj_eager", "q264_eager_aggregation"),
    "q272_eager_mixed_grouping" -> Seq("q272_ruleoff_rowgrain", "q272_eager_mixed_grouping"),
    "q273_eager_rollup" -> Seq("q273_ruleoff_rowgrain", "q273_eager_rollup"),
    "q274_eager_chain" -> Seq("q274_smj_rowgrain", "q274_smj_eager", "q274_eager_chain"),
    "q266_mv_time_bucket" -> Seq("mvts_build", "q266_ruleoff_events", "q266_mv_time_bucket"),
    "q269_mv_bucket_aligned_filter" -> Seq("wide_events_build", "q269w_scan16", "q269w_cells", "q269_mv_bucket_aligned_filter"),
    "q270_mv_rollup_join" -> Seq("q270_ruleoff_rowgrain", "q270_mv_rollup_join"),
    "q249_mv_rewrite" -> Seq("mv_build", "q249_ruleoff_base", "q249_mv_rewrite"))

  private val declared = SparkEntry.registry.map(q => q.name -> q.benchLines.map(_.name)).toMap

  test("every phase family declares its lines in the same order") {
    assert(families.size == 38)
    families.foreach { case (q, lines) => assert(declared(q) == lines, q) }
  }

  test("every other registry query contributes exactly its own line") {
    SparkEntry.registry.filterNot(q => families.contains(q.name)).foreach { q =>
      assert(q.benchLines.map(_.name) == Seq(q.name))
    }
  }

  test("the line list is the registry in name order with families expanded") {
    val lines = Bench.lines(None).map(_.name)
    val expected = SparkEntry.registry.map(_.name).sorted
      .flatMap(n => families.getOrElse(n, Seq(n)))
    assert(lines == expected)
    assert(lines.size == 340)
    assert(lines.distinct.size == lines.size)
  }

  test("SPARK_GRAFT_ONLY keeps the named registry queries with their whole family") {
    val only = Bench.lines(Some(Set("q173_twin_fold", "q01_trace_pipeline"))).map(_.name)
    assert(only == "q01_trace_pipeline" +: families("q173_twin_fold"))
    // a line name that is not a registry name selects nothing
    assert(Bench.lines(Some(Set("dupgraph_build"))).isEmpty)
  }

  test("median of 3, -1 when any run failed") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Bench.median(Seq(1.0, -1.0, 2.0)) == -1.0)
  }

  test("a line regresses only beyond 1.5x its previous median") {
    val prev = Map("a" -> 1.0, "b" -> 1.0, "c" -> -1.0)
    val now = Seq("a" -> 1.49, "b" -> 1.51, "c" -> 9.0, "d" -> 9.0, "e" -> -1.0)
    assert(Bench.regressed(now, prev) == Seq("b"))
  }

  test("only the latest median3 snapshot at the same sf and cpus is compared") {
    val dir = Files.createTempDirectory("bench_full")
    def write(name: String, body: String) = Files.writeString(dir.resolve(name), body + "\n")
    val sf = "/data/sf0.1"
    write("r22.json", s"""{"round":22,"cpus":4,"metric":"total","queries":{"q1":1.000},"sf":"$sf"}""")
    assert(Bench.previousSnapshot(dir, sf, 4).isEmpty)
    def snap(round: Int, cpus: Int, q1: Double, sfDir: String = sf) =
      s"""{"protocol":"median3","round":$round,"cpus":$cpus,"metric":"total","value":1.000,""" +
        s""""unit":"sec","queries":{"q1":$q1,"b_x":-1},"failed":["b_x"],"sf":"$sfDir"}"""
    write("r23_cpu4.json", snap(23, 4, 2.0))
    write("r23_cpu4_1.json", snap(23, 4, 3.0))
    write("r24.json", snap(24, 32, 4.0))
    write("r24_cpu4.json", snap(24, 4, 5.0, "/data/sf0.01"))
    assert(Bench.previousSnapshot(dir, sf, 4) ==
      Some("r23_cpu4_1.json" -> Map("q1" -> 3.0, "b_x" -> -1.0)))
    assert(Bench.previousSnapshot(dir, sf, 32).map(_._2("q1")) == Some(4.0))
    assert(Bench.previousSnapshot(dir, sf, 8).isEmpty)
  }
}
