package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every registry query against
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line with per-query seconds
  * plus a per-query `best` (min over this run and every prior round's
  * BENCH_r*.json) so host-noise spikes read as noise, not regressions.
  *
  * Methodology: a warmup query first (JVM/codegen/session init lands there,
  * not on the first measured query), then each query executed to completion
  * through the `noop` sink — unlike `count()`, noop cannot let Catalyst
  * prune away the projected columns, so the measured time includes computing
  * every output column.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Parsed before the session starts, so a malformed value fails fast.
    val roundOverride = Env.int(sys.env, "SPARK_GRAFT_ROUND")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)

    // Warmup: exercise scan + shuffle + codegen + window + broadcast-join
    // paths once, so the first measured queries (q100-q102 in name order)
    // don't absorb engine-path JIT the totals would misattribute.
    {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{broadcast, col, row_number}
      val li = Tables.lineitem(spark, sfDir)
      li.groupBy("l_returnflag").count()
        .write.format("noop").mode("overwrite").save()
      val dim = li.select("l_returnflag").distinct()
      li.limit(10000)
        .join(broadcast(dim), Seq("l_returnflag"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("l_returnflag").orderBy("l_orderkey")))
        .filter(col("rn") <= 100)
        .write.format("noop").mode("overwrite").save()
    }

    // Session-health probe (r17 verdict item 2): ONE fixed trivial plan
    // (scan + tiny shuffle through noop), min-of-3, timed right after
    // warmup and again after all measured work — the in-ARTIFACT form
    // of the isolate evidence that adjudicated r17's host-steal rounds.
    // On a healthy session both numbers sit near this host's ~0.1-0.3 s
    // floor; a stolen session inflates them the same 2-4x as the query
    // lines, so the artifact itself says whether a flag set is engine
    // or environment.
    def healthProbe(): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        Tables.lineitem(spark, sfDir).groupBy("l_returnflag").count()
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min

    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        // Session-hygiene barrier (round-10 q13 regression): the build
        // phases release their checkpoints explicitly, so anything still
        // persisted here is leaked state that would degrade every later
        // query in this long-lived session. Sweep it (Bench owns the
        // session; the amortized products live on DISK as tables, never
        // as cached frames) BEFORE the timing capture so cleanup cost is
        // attributed to the phase that leaked, in its own try so a
        // cleanup error can never discard a valid measurement; log so a
        // reappearing leak is visible in the round log.
        try {
          val leaked = spark.sparkContext.getPersistentRDDs
          if (leaked.nonEmpty) {
            System.err.println(
              s"[bench] $name left ${leaked.size} persisted RDD(s) pinned — releasing")
            leaked.values.foreach(_.unpersist(blocking = false))
          }
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name leak sweep failed (measurement kept): $e") }
        (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e"); -1.0 }
    }
    // q64/q79/q85 conflate an amortizable one-shot build (bucketed
    // write, IVF index build, k-means training) with the repeat-query
    // probe; time the phases separately so the per-query number reflects
    // what a repeat query actually costs (build is the ingest-time cost,
    // paid once per refresh).
    val phaseSplit: Map[String, Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]] =
      Map(
        // The dup-graph family (q32/q36/q37/q102/q106/q135/q138/q142/
        // q143) probes ONE materialized pair graph; the signature mine +
        // band join is timed here once as the amortized build (attached
        // to q102, the family's first query in bench name order — the
        // in-process memo then serves every later consumer).
        "q102_split_leakage" -> Seq(
          "dupgraph_build" -> ((s: SparkSession, d: String) => {
            graft.queries.DupGraphPhases.build(s, d)
            s.emptyDataFrame
          }),
          "q102_split_leakage" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q102_split_leakage")(s, d))),
        // Second amortization layer: components + fixed-point ranks are
        // computed once per curation run (q36/q37/q138/q142/q143 all
        // probe the derived tables); timed at the family's first derived
        // consumer in bench name order.
        "q138_dup_pagerank" -> Seq(
          "dupgraph_derive" -> ((s: SparkSession, d: String) => {
            graft.queries.DupGraphPhases.buildDerived(s, d)
            s.emptyDataFrame
          }),
          "q138_dup_pagerank" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q138_dup_pagerank")(s, d))),
        // Third amortization layer: q144's serving component map. Without
        // this line the build ran lazily inside q144's first timed run and
        // min-of-2 kept only the memoized-probe second run — the build
        // cost appeared in NO reported number (the silent-cap class the
        // noise protocol exists to prevent).
        "q144_canonical_routing" -> Seq(
          "dupgraph_serving" -> ((s: SparkSession, d: String) => {
            graft.queries.DupGraphPhases.buildServing(s, d)
            s.emptyDataFrame
          }),
          "q144_canonical_routing" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q144_canonical_routing")(s, d))),
        // Fourth amortization layer: the per-ingest-batch touched
        // subgraph (membership + local-rank fixed point) shared by the
        // q149/q150 maintenance pair — built once per batch, timed at
        // the family's first consumer in bench name order.
        "q149_incremental_ranks" -> Seq(
          "dupgraph_touched" -> ((s: SparkSession, d: String) => {
            graft.queries.DupGraphPhases.buildTouched(s, d)
            s.emptyDataFrame
          }),
          "q149_incremental_ranks" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q149_incremental_ranks")(s, d))),
        // The stored corpus-encode artifact: the BPE training + corpus
        // tokenizer pass is paid ONCE (ingest-time, like every serving
        // build); q206/q207/q209/q213/q217/q225 probe the table. Timed
        // at the family's first consumer in bench name order.
        "q206_bpe_token_budget" -> Seq(
          "bpeenc_build" -> ((s: SparkSession, d: String) => {
            graft.queries.BpeEncPhases.buildStored(s, d)
            s.emptyDataFrame
          }),
          "q206_bpe_token_budget" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q206_bpe_token_budget")(s, d))),
        // The stored semantic kept set: the q208 screen runs ONCE per
        // refresh; the cross-modal consumers (q213/q217/q225) probe the
        // id table. q208/q210/q211/q212/q215/q216 still pay (and
        // evidence) the screen itself.
        "q213_curation_capstone_v3" -> Seq(
          "semkept_build" -> ((s: SparkSession, d: String) => {
            graft.queries.SemKeptPhases.buildStored(s, d)
            s.emptyDataFrame
          }),
          "q213_curation_capstone_v3" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q213_curation_capstone_v3")(s, d))),
        // The persisted CDC fingerprint index: the one-shot bucketed
        // write is the amortized ingest cost; the probe line is what a
        // repeat arrival batch pays (q190 recomputes the build inline
        // every run — read the two against each other).
        "q198_cdc_stored_probe" -> Seq(
          "cdcfp_build" -> ((s: SparkSession, d: String) => {
            graft.queries.CdcPhases.buildStored(s, d)
            s.emptyDataFrame
          }),
          "q198_cdc_stored_probe" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q198_cdc_stored_probe")(s, d))),
        // Serving-map REFRESH: the delta-cost fold of an arrival batch
        // into the serving component map (vs buildServing's full
        // rebuild) — timed separately from the q152 routing probe.
        // Two geometries: the q152 fixture batch is ALL odd ids (a 50%
        // delta — outside the incremental design regime, where one full
        // flood legitimately wins), so dupgraph_refresh_delta times the
        // same code path on a ~2% batch, the per-ingest-batch shape the
        // incremental fold exists for. Read them against
        // dupgraph_serving (the full-rebuild comparator): refresh_delta
        // < serving < refresh(50%) is the expected ordering.
        "q152_serving_refresh" -> Seq(
          "dupgraph_refresh_delta" -> ((s: SparkSession, d: String) => {
            graft.queries.DupGraphPhases.refreshServingSmallDelta(s, d)
            s.emptyDataFrame
          }),
          "dupgraph_refresh" -> ((s: SparkSession, d: String) => {
            graft.queries.DupGraphPhases.refreshServing(s, d)
            s.emptyDataFrame
          }),
          "q152_serving_refresh" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q152_serving_refresh")(s, d))),
        "q64_bucketed_join" -> Seq(
          "q64_bucketed_build" -> ((s: SparkSession, d: String) => {
            graft.queries.BucketedJoinPhases.build(s, d)
            s.emptyDataFrame
          }),
          "q64_bucketed_join" -> ((s: SparkSession, d: String) =>
            graft.queries.BucketedJoinPhases.probe(s, d))),
        "q79_ann_ivf_index" -> Seq(
          "q79_ivf_build" -> ((s: SparkSession, d: String) => {
            graft.queries.IvfPhases.indexBuild(s, d)
            s.emptyDataFrame
          }),
          "q79_ann_ivf_index" -> ((s: SparkSession, d: String) =>
            graft.queries.IvfPhases.indexProbe(s, d))),
        "q85_ann_ivf_trained" -> Seq(
          "q85_kmeans_train" -> ((s: SparkSession, d: String) => {
            graft.queries.IvfPhases.train(s, d)
            s.emptyDataFrame
          }),
          "q85_ann_ivf_trained" -> ((s: SparkSession, d: String) =>
            graft.queries.IvfPhases.trainedProbe(s, d))),
        // IVF delta-segment family: base build is the one-shot ingest
        // cost, the delta APPEND is what every ingest batch pays (the
        // number that must stay delta-sized — read it against the base
        // build right above it), the probe is the per-query cost.
        "q156_ivf_delta_probe" -> Seq(
          "q156_ivf_base_build" -> ((s: SparkSession, d: String) => {
            graft.queries.IvfPhases.segBaseBuild(s, d)
            s.emptyDataFrame
          }),
          "q156_ivf_delta_append" -> ((s: SparkSession, d: String) => {
            graft.queries.IvfPhases.segDeltaAppend(s, d)
            s.emptyDataFrame
          }),
          "q156_ivf_delta_probe" -> ((s: SparkSession, d: String) =>
            graft.queries.IvfPhases.segProbe(s, d))),
        // Star-collapse at PRODUCTION geometry: the registry q226 gates
        // at doc_id < 1000 for oracle tractability; the full-corpus
        // mine is where the operator's claim lives (at sf0.1 the
        // near-clique bucket holds ~2000 docs — quadratic for the
        // uncapped former, linear for the star). Identical stages on
        // both faces; the uncapped twin is a settled comparator and
        // runs on the every-4th-round cadence.
        "q226_lsh_star_capped" -> Seq(
          "q226_sig_mine_full" -> ((s: SparkSession, d: String) => {
            graft.queries.DedupQueries.ensureFullSignatures(s, d)
            s.emptyDataFrame
          }),
          "q226_star_mine_full" -> ((s: SparkSession, d: String) =>
            graft.queries.DedupQueries.starFullMine(s, d)),
          "q226_uncapped_mine_full" -> ((s: SparkSession, d: String) =>
            graft.queries.DedupQueries.uncappedFullMine(s, d)),
          "q226_lsh_star_capped" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q226_lsh_star_capped")(s, d))),
        // Compaction family: the one-shot lifecycle (base build + delta
        // fold + compact, own prefix) is the stored product's cost; the
        // q228 line is what a probe pays AFTER compaction — read it
        // against q156_ivf_delta_probe, the same probe WITH a delta.
        "q228_ivf_compacted_probe" -> Seq(
          "q228_ivf_compact" -> ((s: SparkSession, d: String) => {
            graft.queries.IvfPhases.ensureCompacted(s, d)
            s.emptyDataFrame
          }),
          "q228_ivf_compacted_probe" -> ((s: SparkSession, d: String) =>
            graft.queries.IvfPhases.cmpProbe(s, d))),
        // Benchmark-version fold: the v1 build is the stored product's
        // one-shot cost; the q157 line is what ONE benchmark release
        // costs to fold — read it against q63's full screen.
        "q157_benchmark_fold" -> Seq(
          "q157_decontam_v1_build" -> ((s: SparkSession, d: String) => {
            graft.queries.DecontamPhases.buildStored(s, d)
            s.emptyDataFrame
          }),
          "q157_benchmark_fold" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q157_benchmark_fold")(s, d))),
        // HLL sketch fold: the stored register build scans the existing
        // corpus once; the q160 line is what one arrival batch costs
        // (sketch the batch + cell-wise max against KB of state).
        "q160_hll_sketch_fold" -> Seq(
          "q160_hll_stored_build" -> ((s: SparkSession, d: String) => {
            graft.queries.HllPhases.buildStored(s, d)
            s.emptyDataFrame
          }),
          "q160_hll_sketch_fold" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q160_hll_sketch_fold")(s, d))),
        // Count-min fold: same split as q160, additive monoid.
        "q162_countmin_fold" -> Seq(
          "q162_cm_stored_build" -> ((s: SparkSession, d: String) => {
            graft.queries.CmPhases.buildStored(s, d)
            s.emptyDataFrame
          }),
          "q162_countmin_fold" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q162_countmin_fold")(s, d))),
        // HDR fold: same split as q160, additive monoid on the quantile
        // histogram.
        "q163_hdr_sketch_fold" -> Seq(
          "q163_hdr_stored_build" -> ((s: SparkSession, d: String) => {
            graft.queries.HdrPhases.buildStored(s, d)
            s.emptyDataFrame
          }),
          "q163_hdr_sketch_fold" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q163_hdr_sketch_fold")(s, d))),
        // KMV fold: same split, distinct-union-take-k monoid.
        "q164_kmv_fold" -> Seq(
          "q164_kmv_stored_build" -> ((s: SparkSession, d: String) => {
            graft.queries.KmvPhases.buildStored(s, d)
            s.emptyDataFrame
          }),
          "q164_kmv_fold" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q164_kmv_fold")(s, d))),
        // Twin-collapse triangle products: counts + truss tables built
        // once (shared twin-class frame), probed by q167/q168/q170.
        "q167_dup_triangles" -> Seq(
          "q167_tri_build" -> ((s: SparkSession, d: String) => {
            graft.queries.TrianglePhases.build(s, d)
            s.emptyDataFrame
          }),
          "q167_dup_triangles" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q167_dup_triangles")(s, d))),
        // Twin fold: the stored fingerprint build scans the even graph
        // once; the q173 line is what one arrival batch costs (touched-
        // vertex re-hash + node-sized regroup).
        "q173_twin_fold" -> Seq(
          "q173_twinfp_stored_build" -> ((s: SparkSession, d: String) => {
            graft.queries.TwinFoldPhases.buildStored(s, d)
            s.emptyDataFrame
          }),
          "q173_twin_fold" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q173_twin_fold")(s, d)),
          // The fold in its WINNING regime: the q173 line's 2% slice
          // lands arrivals in every giant near-clique and re-hashes
          // most of the graph (the fold's documented losing shape); the
          // bounded pair below keeps only delta pairs with both
          // endpoints in bounded neighborhoods (deg <= 32) — the
          // production ingest shape where touched adjacency volume, and
          // so fold cost, is delta-sized. Read bounded_fold against
          // bounded_rebuild (same merged graph, from scratch):
          // fold < rebuild is the win the incremental path exists for.
          "q173_bounded_fold" -> ((s: SparkSession, d: String) =>
            graft.queries.TwinFoldPhases.boundedFold(s, d)),
          "q173_bounded_rebuild" -> ((s: SparkSession, d: String) =>
            graft.queries.TwinFoldPhases.boundedRebuild(s, d)),
          // Crossover demonstration: same delta, stored graph 16x (id-
          // shifted copies of the real even graph). The fixture alone
          // is too small to separate fold from rebuild (both ~1-2 s,
          // inside host noise; 4x moved the rebuild only +0.4 s); at
          // 16x the rebuild's adjacency re-hash scales with the stored
          // graph while the fold's touched volume does not —
          // scaled16_fold flat vs scaled16_rebuild growing is the
          // measured form of the 100 TB argument. The one-time scaled
          // build is its own line (re-run like every build phase).
          "q173_scaledfp_build" -> ((s: SparkSession, d: String) => {
            graft.queries.TwinFoldPhases.buildScaled(s, d)
            s.emptyDataFrame
          }),
          "q173_scaled16_fold" -> ((s: SparkSession, d: String) =>
            graft.queries.TwinFoldPhases.scaledFold(s, d)),
          "q173_scaled16_rebuild" -> ((s: SparkSession, d: String) =>
            graft.queries.TwinFoldPhases.scaledRebuild(s, d)),
          // Core-scaling probe for the fingerprint exchange itself (r21
          // verdict item 8): in-task-generated scaled edges, no file-
          // split or write ceiling — the line whose 8-vs-32-core ratio
          // carries the "3 longs per vertex" shuffle claim. min-of-2
          // like every probe line.
          "q173_scaledfp_hash" -> ((s: SparkSession, d: String) =>
            graft.queries.TwinFoldPhases.scaledFingerprintHash(s, d))),
        // Truss peel: the fixed-point build is its own line (rounds of
        // re-collapse + quotient support), separate from the q167
        // single-cut family's build; the q176 line is the table probe.
        "q176_truss_peel" -> Seq(
          "q176_peel_build" -> ((s: SparkSession, d: String) => {
            // buildPeeled, not ensurePeeled: the memo would turn the
            // best-of-2 re-time into a ~0s no-op and hide the build.
            graft.queries.TrianglePhases.buildPeeled(s, d)
            s.emptyDataFrame
          }),
          "q176_truss_peel" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q176_truss_peel")(s, d))),
        // Incremental triangle refresh: the fold line is what one
        // arrival batch pays to update the fingerprint state (touched
        // re-hash; stored build already timed under q173), the refresh
        // line re-derives counts/truss/stats from the folded node-sized
        // state (no adjacency shuffle). The refresh-vs-rebuild
        // COMPARISON lives at the scaled16 geometry below (the r15
        // verdict: at fixture scale the shared quotient + product tail
        // dominates both sides and the pair measures a tie, 9.05 vs
        // 9.39 s — not the asymptotics); the fixture-scale rebuild
        // comparator line was retired with it, its equality still
        // spec-pinned (TriangleRefreshSpec). At scaled16 the rebuild's
        // adjacency shuffle grows ScaleCopies x while the refresh
        // regroups a node-sized fingerprint table — read the scaled
        // pair's DIFFERENCE (shared tail scales identically on both
        // sides); scaled16_refresh < scaled16_rebuild by roughly the
        // q173 fingerprint-level margin is the product-level form of
        // the 100 TB claim.
        "q178_triangle_refresh" -> Seq(
          "q178_twinffp_fold" -> ((s: SparkSession, d: String) => {
            graft.queries.TwinFoldPhases.buildFolded(s, d)
            s.emptyDataFrame
          }),
          "q178_tri_refresh" -> ((s: SparkSession, d: String) => {
            graft.queries.TrianglePhases.refresh(s, d)
            s.emptyDataFrame
          }),
          "q178_triangle_refresh" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q178_triangle_refresh")(s, d)),
          "q178_scaledffp_fold" -> ((s: SparkSession, d: String) => {
            graft.queries.TwinFoldPhases.buildFoldedScaled(s, d)
            s.emptyDataFrame
          }),
          "q178_scaled16_refresh" -> ((s: SparkSession, d: String) => {
            graft.queries.TrianglePhases.scaledRefresh(s, d)
            s.emptyDataFrame
          }),
          "q178_scaled16_rebuild" -> ((s: SparkSession, d: String) => {
            graft.queries.TrianglePhases.scaledRebuildMerged(s, d)
            s.emptyDataFrame
          })),
        // Incremental z-compaction: base write is the one-shot layout
        // cost; zingest (append + touched-bucket compaction) is what
        // every arrival batch pays — it must stay arrival-sized as the
        // table grows. The STATIC-overwrite base write resets the dir,
        // so the (zbase, zingest) pair is idempotent under the global
        // re-time order.
        "q166_zorder_compaction" -> Seq(
          "q166_zbase_write" -> ((s: SparkSession, d: String) => {
            graft.queries.ZCompactPhases.buildBase(s, d)
            s.emptyDataFrame
          }),
          "q166_zingest" -> ((s: SparkSession, d: String) => {
            graft.queries.ZCompactPhases.ingest(s, d)
            s.emptyDataFrame
          }),
          "q166_zorder_compaction" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q166_zorder_compaction")(s, d))),
        // Catalog-rule pairs: the registry lines run WITH the optimizer
        // rule (catalog-driven broadcast hint / re-associated join
        // order); the ruleoff twins run the IDENTICAL query text in a
        // plain child session at the same autoBroadcastJoinThreshold=-1,
        // so each pair's difference is exactly the plan decision the
        // rule made (same engine, same data, same text). New in r17:
        // both twins run every round until the margin settles, then
        // move to the settled-comparator cadence like the scaled16
        // rebuilds.
        "q244_rule_broadcast_choice" -> Seq(
          "q244_ruleoff_smj" -> ((s: SparkSession, d: String) => {
            import org.apache.spark.sql.functions._
            val off = graft.plans.CatalogRules.sessionWith(s, Nil,
              "spark.sql.autoBroadcastJoinThreshold" -> "-1")
            Tables.lineitem(off, d)
              .join(Tables.supplier(off, d),
                col("l_suppkey") === col("s_suppkey"))
              .groupBy("s_name")
              .agg(count(lit(1)).as("cnt"),
                sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
                  .as("sum_qty"))
          }),
          "q244_rule_broadcast_choice" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q244_rule_broadcast_choice")(s, d))),
        "q245_rule_join_order" -> Seq(
          "q245_ruleoff_written" -> ((s: SparkSession, d: String) => {
            import org.apache.spark.sql.functions._
            val off = graft.plans.CatalogRules.sessionWith(s, Nil,
              "spark.sql.autoBroadcastJoinThreshold" -> "-1")
            Tables.lineitem(off, d)
              .join(Tables.orders(off, d),
                col("l_orderkey") === col("o_orderkey"))
              .join(Tables.customer(off, d),
                col("o_custkey") === col("c_custkey"))
              .groupBy("c_mktsegment")
              .agg(count(lit(1)).as("cnt"),
                sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                  .as("sum_price"))
          }),
          "q245_rule_join_order" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q245_rule_join_order")(s, d))),
        // The stored histogram catalog the conjunct-reorder rule costs
        // from: one bounded ANALYZE scan per column, paid at ingest
        // like every stored artifact; the q246 line is then what a
        // repeat planning decision costs (read 32 stored rows, plan,
        // run the filter).
        "q246_rule_conjunct_order" -> Seq(
          "histcat_build" -> ((s: SparkSession, d: String) => {
            graft.queries.HistPhases.buildStored(s, d)
            s.emptyDataFrame
          }),
          "q246_rule_conjunct_order" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q246_rule_conjunct_order")(s, d))),
        // The stored MCV catalog q254's equality costing reads: one
        // grouped-count top-k pass per column at ingest; the q254 line
        // is the repeat planning decision + filter.
        "q254_rule_conjunct_equality" -> Seq(
          "mcvcat_build" -> ((s: SparkSession, d: String) => {
            graft.queries.McvPhases.buildStored(s, d)
            s.emptyDataFrame
          }),
          "q254_rule_conjunct_equality" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q254_rule_conjunct_equality")(s, d))),
        // Filter-aware join order (q262) and eager aggregation (q264):
        // rule-on/rule-off pairs on identical text, the r17 protocol —
        // each pair's difference is exactly the plan decision.
        "q262_rule_join_order_filtered" -> Seq(
          "q262_blindorder" -> ((s: SparkSession, d: String) => {
            import org.apache.spark.sql.functions._
            val blind = graft.plans.CatalogRules.sessionWith(s,
              Seq(graft.plans.CatalogJoinOrderRule(
                graft.queries.StatsPhases.collected(s, d))),
              "spark.sql.autoBroadcastJoinThreshold" -> "-1")
            Tables.lineitem(blind, d)
              .filter(col("l_quantity") >= 49.0)
              .join(Tables.orders(blind, d),
                col("l_orderkey") === col("o_orderkey"))
              .join(Tables.customer(blind, d),
                col("o_custkey") === col("c_custkey"))
              .groupBy("c_mktsegment")
              .agg(count(lit(1)).as("cnt"),
                sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                  .as("sum_price"))
          }),
          "q262_rule_join_order_filtered" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q262_rule_join_order_filtered")(s, d))),
        // Composite-key chain (q268): the ruleoff twin pays the written
        // order (composite self-join first — a fact-sized intermediate
        // carried through two more joins); the rule line seeds
        // orders><customer from the counted composite entry.
        "q268_rule_join_order_composite" -> Seq(
          "q268_ruleoff_written" -> ((s: SparkSession, d: String) => {
            import org.apache.spark.sql.functions._
            val off = graft.plans.CatalogRules.sessionWith(s, Nil,
              "spark.sql.autoBroadcastJoinThreshold" -> "-1")
            val a = Tables.lineitem(off, d)
            val b = Tables.lineitem(off, d)
            a.join(b, a("l_orderkey") === b("l_orderkey") &&
                a("l_linenumber") === b("l_linenumber"))
              .join(Tables.orders(off, d),
                a("l_orderkey") === col("o_orderkey"))
              .join(Tables.customer(off, d),
                col("o_custkey") === col("c_custkey"))
              .groupBy("c_mktsegment")
              .agg(count(lit(1)).as("cnt"),
                sum(b("l_quantity").cast("bigint")).as("sum_qty"))
          }),
          "q268_rule_join_order_composite" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q268_rule_join_order_composite")(s, d))),
        "q264_eager_aggregation" -> Seq(
          "q264_ruleoff_rowgrain" -> ((s: SparkSession, d: String) => {
            import org.apache.spark.sql.functions._
            val off = graft.plans.CatalogRules.sessionWith(s, Nil,
              "spark.sql.ansi.enabled" -> "false")
            Tables.lineitem(off, d)
              .join(Tables.supplier(off, d),
                col("l_suppkey") === col("s_suppkey"))
              .groupBy("s_name")
              .agg(count(lit(1)).as("cnt"),
                sum(col("l_quantity").cast("bigint")).as("sum_qty"),
                max(col("l_extendedprice")).as("max_price"))
          }),
          // The SHUFFLE-regime pair (threshold=-1, AQE off): where the
          // broadcast pair above measures a near-tie (partial agg above
          // a broadcast join is already cheap), this is eager
          // aggregation's home turf — the rowgrain side sort-merge-
          // exchanges every fact row; the eager side exchanges
          // ndv(fk)-sized partials. The gap is the exchanged-volume
          // claim, measured.
          "q264_smj_rowgrain" -> ((s: SparkSession, d: String) => {
            import org.apache.spark.sql.functions._
            val off = graft.plans.CatalogRules.sessionWith(s, Nil,
              "spark.sql.autoBroadcastJoinThreshold" -> "-1",
              "spark.sql.adaptive.enabled" -> "false",
              "spark.sql.ansi.enabled" -> "false")
            Tables.lineitem(off, d)
              .join(Tables.supplier(off, d),
                col("l_suppkey") === col("s_suppkey"))
              .groupBy("s_name")
              .agg(count(lit(1)).as("cnt"),
                sum(col("l_quantity").cast("bigint")).as("sum_qty"),
                max(col("l_extendedprice")).as("max_price"))
          }),
          "q264_smj_eager" -> ((s: SparkSession, d: String) => {
            import org.apache.spark.sql.functions._
            val on = graft.plans.CatalogRules.sessionWith(s,
              Seq(graft.plans.EagerAggregationRule(
                graft.queries.StatsPhases.collected(s, d))),
              "spark.sql.autoBroadcastJoinThreshold" -> "-1",
              "spark.sql.adaptive.enabled" -> "false",
              "spark.sql.ansi.enabled" -> "false")
            Tables.lineitem(on, d)
              .join(Tables.supplier(on, d),
                col("l_suppkey") === col("s_suppkey"))
              .groupBy("s_name")
              .agg(count(lit(1)).as("cnt"),
                sum(col("l_quantity").cast("bigint")).as("sum_qty"),
                max(col("l_extendedprice")).as("max_price"))
          }),
          "q264_eager_aggregation" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q264_eager_aggregation")(s, d))),
        // The eager AVG fold (q271): DEMOTED to plan-pin-only (r19
        // verdict item 5) — the broadcast-regime pair sat at parity
        // across three full runs (the avoided exchange is tiny at
        // sf0.1), so the ruleoff twin is dropped rather than paying a
        // bench line for a tie. The fold's win shape is the q264 SMJ
        // pair's (same decomposition, measured there); its correctness
        // and fired-shape stay pinned in CatalogRulesSpec.
        // Mixed-grouping eager aggregation (q272): ruleoff twin on
        // identical text — the pair's difference is the
        // (fk x fact-group)-grain decomposition.
        "q272_eager_mixed_grouping" -> Seq(
          "q272_ruleoff_rowgrain" -> ((s: SparkSession, d: String) => {
            import org.apache.spark.sql.functions._
            val off = graft.plans.CatalogRules.sessionWith(s, Nil,
              "spark.sql.ansi.enabled" -> "false")
            Tables.lineitem(off, d)
              .join(Tables.supplier(off, d),
                col("l_suppkey") === col("s_suppkey"))
              .groupBy("l_returnflag", "s_name")
              .agg(count(lit(1)).as("cnt"),
                sum(col("l_quantity").cast("bigint")).as("sum_qty"))
          }),
          "q272_eager_mixed_grouping" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q272_eager_mixed_grouping")(s, d))),
        // Grouping sets without a stored artifact (q273): the ruleoff
        // twin's Expand multiplies every fact row per set; the rule
        // line multiplies (fk x returnflag)-grain partials.
        "q273_eager_rollup" -> Seq(
          "q273_ruleoff_rowgrain" -> ((s: SparkSession, d: String) => {
            import org.apache.spark.sql.functions._
            val off = graft.plans.CatalogRules.sessionWith(s, Nil,
              "spark.sql.ansi.enabled" -> "false")
            Tables.lineitem(off, d)
              .join(Tables.supplier(off, d),
                col("l_suppkey") === col("s_suppkey"))
              .rollup(col("l_returnflag"), col("s_name"))
              .agg(count(lit(1)).as("cnt"),
                sum(col("l_quantity").cast("bigint")).as("sum_qty"))
          }),
          "q273_eager_rollup" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q273_eager_rollup")(s, d))),
        // Dim-CHAIN eager aggregation (q274): measured in the SHUFFLE
        // regime only (threshold=-1, AQE off — the q264/r19 lesson:
        // broadcast-regime pairs sit at parity and a tie is not worth
        // two bench lines). The rowgrain side sort-merge-exchanges the
        // fact TWICE (once per chain join); the eager side exchanges
        // ndv(l_suppkey) partials below the whole chain.
        "q274_eager_chain" -> Seq(
          "q274_smj_rowgrain" -> ((s: SparkSession, d: String) => {
            import org.apache.spark.sql.functions._
            val off = graft.plans.CatalogRules.sessionWith(s, Nil,
              "spark.sql.autoBroadcastJoinThreshold" -> "-1",
              "spark.sql.adaptive.enabled" -> "false",
              "spark.sql.ansi.enabled" -> "false")
            Tables.lineitem(off, d)
              .join(Tables.supplier(off, d),
                col("l_suppkey") === col("s_suppkey"))
              .join(Tables.nation(off, d),
                col("s_nationkey") === col("n_nationkey"))
              .groupBy("n_name")
              .agg(count(lit(1)).as("cnt"),
                sum(col("l_quantity").cast("bigint")).as("sum_qty"),
                sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                  .as("sum_price"))
          }),
          "q274_smj_eager" -> ((s: SparkSession, d: String) => {
            import org.apache.spark.sql.functions._
            val on = graft.plans.CatalogRules.sessionWith(s,
              Seq(graft.plans.EagerAggregationRule(
                graft.queries.StatsPhases.collected(s, d))),
              "spark.sql.autoBroadcastJoinThreshold" -> "-1",
              "spark.sql.adaptive.enabled" -> "false",
              "spark.sql.ansi.enabled" -> "false")
            Tables.lineitem(on, d)
              .join(Tables.supplier(on, d),
                col("l_suppkey") === col("s_suppkey"))
              .join(Tables.nation(on, d),
                col("s_nationkey") === col("n_nationkey"))
              .groupBy("n_name")
              .agg(count(lit(1)).as("cnt"),
                sum(col("l_quantity").cast("bigint")).as("sum_qty"),
                sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                  .as("sum_price"))
          }),
          "q274_eager_chain" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q274_eager_chain")(s, d))),
        // Computed-grouping eager aggregation (q277): plan-pin-only,
        // by MEASUREMENT — both the sf0.1 SMJ pair and a 16x widened
        // SMJ pair were timed during r20 and the eager side LOSES
        // ~15% at both scales: events rows are ~24 exchanged bytes,
        // so at local memcpy bandwidth the exchanged-volume saving
        // (even 213x at the wide grain) never repays the extra
        // aggregate stage. The win requires network/spill-priced
        // exchange — out of a single-host bench's reach — so no pair
        // line is carried (r19 verdict item 5's demotion arm); the
        // fired shape, gate, and same-rows stay pinned in
        // CatalogRulesSpec, and the exchanged-volume story is carried
        // by the q264/q274 pairs whose fact rows are wide enough to
        // show it.
        // MV rewrite family: the rollup build is the one-shot ingest
        // cost; the q249 line is what the SAME query text costs once
        // the rewrite answers it from the rollup; the ruleoff twin is
        // the identical text paying the fact scan — the pair IS the
        // aggregate-navigation win.
        // Time-bucketed MV (q266): the rollup build is the one-shot
        // ingest cost; the pair is the hourly report answered from
        // cells vs paying the event scan.
        "q266_mv_time_bucket" -> Seq(
          "mvts_build" -> ((s: SparkSession, d: String) => {
            graft.queries.MvPhases.buildStoredTs(s, d)
            s.emptyDataFrame
          }),
          "q266_ruleoff_events" -> ((s: SparkSession, d: String) => {
            import org.apache.spark.sql.functions._
            val off = graft.plans.CatalogRules.sessionWith(s, Nil)
            Tables.eventsTsNs(off, d)
              .groupBy(
                expr(graft.operators.Resample.floorDivSql(
                  "ts", graft.queries.MvPhases.HourNs)).as("hour_idx"),
                col("event_type"))
              .agg(count(lit(1)).as("cnt"),
                sum(col("value").cast("decimal(18,4)")).cast("double")
                  .as("sum_value"))
          }),
          "q266_mv_time_bucket" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q266_mv_time_bucket")(s, d))),
        // Aligned time-range report (q269): measured on the 16x WIDE
        // events fixture (r19 verdict item 5 — at sf0.1 the avoided
        // scan was so small the pair sat at parity; replication keeps
        // the cells hour x type sized while the scan grows 16x, so the
        // pair finally shows the cells-vs-scan margin as a number).
        // The build line is the one-shot instrument cost; q269w_scan16
        // pays the wide scan + filter; q269w_cells answers the SAME
        // text from the wide rollup's cells.
        "q269_mv_bucket_aligned_filter" -> Seq(
          "wide_events_build" -> ((s: SparkSession, d: String) => {
            graft.queries.WidePhases.ensureBuilt(s, d)
            graft.queries.MvPhases.ensureStoredTsWide(s, d)
            graft.queries.WidePhases.stats(s, d)
            s.emptyDataFrame
          }),
          "q269w_scan16" -> ((s: SparkSession, d: String) => {
            import org.apache.spark.sql.functions._
            val wd = graft.queries.WidePhases.ensureBuilt(s, d)
            val off = graft.plans.CatalogRules.sessionWith(s, Nil)
            Tables.eventsTsNs(off, wd)
              .filter(col("ts") >=
                lit(473712L * graft.queries.MvPhases.HourNs))
              .groupBy(
                expr(graft.operators.Resample.floorDivSql(
                  "ts", graft.queries.MvPhases.HourNs)).as("hour_idx"),
                col("event_type"))
              .agg(count(lit(1)).as("cnt"),
                sum(col("value").cast("decimal(18,4)")).cast("double")
                  .as("sum_value"))
          }),
          "q269w_cells" -> ((s: SparkSession, d: String) => {
            import org.apache.spark.sql.functions._
            val wd = graft.queries.WidePhases.ensureBuilt(s, d)
            graft.queries.MvPhases.ensureStoredTsWide(s, d)
            val child = graft.plans.CatalogRules.sessionWith(s, Nil)
            graft.plans.CatalogRules.installRules(child,
              Seq(graft.plans.MvRewriteRule(
                Seq(graft.queries.MvPhases.mvDefTsWide(child, d)))))
            Tables.eventsTsNs(child, wd)
              .filter(col("ts") >=
                lit(473712L * graft.queries.MvPhases.HourNs))
              .groupBy(
                expr(graft.operators.Resample.floorDivSql(
                  "ts", graft.queries.MvPhases.HourNs)).as("hour_idx"),
                col("event_type"))
              .agg(count(lit(1)).as("cnt"),
                sum(col("value").cast("decimal(18,4)")).cast("double")
                  .as("sum_value"))
          }),
          "q269_mv_bucket_aligned_filter" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q269_mv_bucket_aligned_filter")(s, d))),
        // Grouping sets over the FK join (q270): the ruleoff twin pays
        // the fact scan multiplied per set by the Expand; the rule line
        // multiplies ndv(fk) cells instead and joins the live dim.
        "q270_mv_rollup_join" -> Seq(
          "q270_ruleoff_rowgrain" -> ((s: SparkSession, d: String) => {
            import org.apache.spark.sql.functions._
            val off = graft.plans.CatalogRules.sessionWith(s, Nil)
            Tables.lineitem(off, d)
              .join(Tables.supplier(off, d),
                col("l_suppkey") === col("s_suppkey"))
              .rollup(col("s_name"))
              .agg(count(lit(1)).as("cnt"),
                sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
                  .as("sum_qty"))
          }),
          "q270_mv_rollup_join" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q270_mv_rollup_join")(s, d))),
        "q249_mv_rewrite" -> Seq(
          "mv_build" -> ((s: SparkSession, d: String) => {
            graft.queries.MvPhases.buildStored(s, d)
            s.emptyDataFrame
          }),
          "q249_ruleoff_base" -> ((s: SparkSession, d: String) => {
            import org.apache.spark.sql.functions._
            val off = graft.plans.CatalogRules.sessionWith(s, Nil)
            Tables.lineitem(off, d)
              .groupBy("l_returnflag", "l_linestatus")
              .agg(count(lit(1)).as("cnt"),
                sum(col("l_quantity").cast("decimal(18,4)")).cast("double")
                  .as("sum_qty"),
                sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                  .as("sum_price"),
                min(col("l_quantity")).as("min_qty"),
                max(col("l_extendedprice")).as("max_price"))
          }),
          "q249_mv_rewrite" -> ((s: SparkSession, d: String) =>
            SparkEntry.queries("q249_mv_rewrite")(s, d))))
    // Isolation mode: SPARK_GRAFT_ONLY=q90_sequence_pack,q91_... times
    // just the named registry queries in an otherwise-identical fresh
    // session (same warmup, same min-of-2) — the tool for deciding
    // whether an in-run drift is real or an artifact of the 170-query
    // session around it. Not used by the driver; totals from a filtered
    // run are meaningless and the JSON line says so via "only".
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // This round's number: max driver-written BENCH_r*.json + 1. ONLY
    // the driver's artifacts count — deriving from our own bench_full/
    // r*.json files would make the number drift +1 on every in-round
    // run (each write raises the max the next run sees), skewing both
    // the file naming and the comparator cadence. Within one round,
    // every run (ours and the driver's) re-derives the SAME number and
    // overwrites the same bench_full file — the intended idempotence.
    def roundsIn(dir: String, pat: String): List[Int] =
      try {
        import scala.jdk.CollectionConverters._
        val rx = pat.r
        java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
          .flatMap(p => rx.findFirstMatchIn(p.getFileName.toString).map(_.group(1).toInt))
          .toList
      } catch { case _: Throwable => Nil }
    // SPARK_GRAFT_ROUND overrides when set (r21 verdict item 5: the
    // driver's post-record 8-core scaling run derived max+1 AFTER the
    // driver had written BENCH_r21.json and filed itself as next round's
    // snapshot; the cpu-suffixed snapshot naming below is the structural
    // fix, the env knob the explicit one).
    val thisRound: Int = roundOverride.getOrElse(
      roundsIn(".", "BENCH_r(\\d+)\\.json").foldLeft(0)(math.max) + 1)
    // Settled-comparator cadence (r16 verdict item 4): the scaled16
    // REBUILD comparators exist only to be beaten by the refresh/fold
    // lines — a margin proven in r15/r16 (fold 1.6 vs rebuild 2.6 s;
    // refresh 8.2 vs rebuild 11.8 s) and spec-pinned for equality
    // (TriangleRefreshSpec/TwinFoldSpec). Re-proving it cost ~14 s of
    // bench wall every round, so the rebuild lines now run every 4th
    // round (or on demand via SPARK_GRAFT_COMPARATORS=1); the refresh/
    // fold lines — the numbers that must stay delta-sized — run every
    // round, as does q173_scaledfp_build (the amortized build whose
    // stored state those lines probe; it is a hard dependency, not a
    // comparator). Their floors persist in the best column across the
    // skipped rounds, so a drift still surfaces at the next cadence run.
    val comparatorsThisRound: Boolean =
      sys.env.get("SPARK_GRAFT_COMPARATORS").contains("1") || thisRound % 4 == 0
    // The same cadence applies to the settled exact-AUDIT faces: q174/
    // q175 are the deliberately-gated brute no-miss proofs (production
    // paths: q32 banding, q179 with the df cap at 0.5 s) whose results
    // stay oracle-checked in every round's Verify pass at sf0.01 — only
    // their sf0.1 TIMING re-proved a settled ~11 s (x2 under min-of-2)
    // per round. An audit face's cost is documented as gated, not
    // optimized, so its floor carries no regression signal between
    // cadence runs; correctness coverage is unchanged.
    val cadencedComparators: Set[String] =
      Set("q178_scaled16_rebuild", "q173_scaled16_rebuild",
        "q174_setsim_exact", "q175_containment_join",
        "q226_uncapped_mine_full")
    // Probe admission gate (r19 verdict item 7): refuse to START
    // measuring on a host already stolen — the r16-r18 start-probe
    // envelope tops out near 0.28 s here, and r19's driver artifact
    // (13 flags, all session noise) opened on a 0.26 s probe that
    // degraded to 0.30 s. Past ~2x the envelope ceiling the bench
    // self-reruns the probe after a pause (observed steal episodes are
    // transient); after 5 tries it proceeds anyway and RECORDS the hot
    // start in the artifact — a driver round must produce a record,
    // and the adjudication fields then carry the evidence.
    val ProbeCeiling = 0.55
    var healthStart = healthProbe()
    var probeRetries = 0
    while (healthStart > ProbeCeiling && probeRetries < 5) {
      System.err.println(
        f"[bench] start probe ${healthStart}%.3f s exceeds the " +
          f"$ProbeCeiling%.2f s ceiling (~2x the r16-r18 envelope) — " +
          "host busy; backing off 30 s before re-probing")
      Thread.sleep(30000L)
      probeRetries += 1
      healthStart = healthProbe()
    }
    val firstPass = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy(_._1).flatMap { case (name, fn) =>
      phaseSplit.getOrElse(name, Seq(name -> fn))
        .filter { case (n, _) => comparatorsThisRound || !cadencedComparators(n) }
        .map { case (n, f) => (n, f, timeOne(n, f)) }
    }
    // Single-timed lines (r15 verdict item 6 — bench wall-time budget):
    // pure BUILD/COMPARATOR phases, where the measurement is a one-shot
    // ingest or demonstration cost, run ONCE instead of min-of-2 — the
    // re-run doubled the bench wall for numbers whose round-to-round
    // drift is already audited by the cross-round `best` column (every
    // line here is idempotent and its floor survives in the best map).
    // The trade is explicit: a CPU-steal spike on one of these lines
    // shows in that round's number, so they are EXCLUDED from
    // regressed_vs_best (a single-run spike is noise by protocol) and
    // listed in the JSON line as "single_timed" so the exclusion is
    // auditable. PROBE lines and headline fold-cost lines (what a
    // repeat query / arrival batch pays) keep min-of-2.
    val singleTimed: Set[String] = Set(
      "dupgraph_build", "dupgraph_derive", "dupgraph_serving",
      "dupgraph_touched", "cdcfp_build", "bpeenc_build", "semkept_build",
      "histcat_build", "mcvcat_build", "mv_build", "mvts_build",
      "q64_bucketed_build",
      "q79_ivf_build", "q85_kmeans_train", "q156_ivf_base_build",
      "q228_ivf_compact", "q226_sig_mine_full", "q226_uncapped_mine_full",
      "wide_events_build",
      "q157_decontam_v1_build", "q160_hll_stored_build",
      "q162_cm_stored_build", "q163_hdr_stored_build",
      "q164_kmv_stored_build", "q166_zbase_write",
      "q173_twinfp_stored_build", "q173_scaledfp_build",
      "q178_scaledffp_fold", "q178_scaled16_refresh",
      "q178_scaled16_rebuild")
    // Noise protocol (round-9 VERDICT): this host shows intermittent CPU
    // steal that can inflate a single run 3-10x, so every NON-build query
    // is timed twice within the run and reports min-of-2 — the mechanical
    // version of "early-round totals are representative". Build phases
    // re-run their (idempotent) build; memoized probes stay probes.
    val results = firstPass.map { case (name, fn, t1) =>
      if (singleTimed(name) && t1 >= 0) name -> t1
      else {
        // A failed retry must not clobber a valid first measurement.
        val t2 = timeOne(name, fn)
        name -> (if (t1 < 0) t2 else if (t2 < 0) t1 else math.min(t1, t2))
      }
    }
    def fmt(v: Double): String =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v)) // locale-pinned: "5.123" never "5,123"
    // Explicit best-floor resets: a best recorded BEFORE the listed round
    // is excluded for that query, because the OPERATOR was intentionally
    // changed (or the measurement context was unrepresentative) and the
    // old number is unreachable by design — carrying it made
    // regressed_vs_best report the same three known-false entries every
    // round. The list is emitted in the JSON line so every reset is
    // auditable (name + round + reason), never silent.
    val bestFloorReset: Map[String, (Int, String)] = Map(
      "q52_langid" -> (2 ->
        ("round-1 best is an artifact of a ~60-query session; " +
          "standalone reruns of current code cannot reach it")),
      "q90_sequence_pack" -> (15 ->
        ("r6 reset: pre-r6 best predates the intentional switch to " +
          "sharded two-phase packing (the 100 TB-safe shape). r15 " +
          "re-reset after the isolate re-measurement the r13 verdict " +
          "asked for: SPARK_GRAFT_ONLY standalone min-of-2 gives 0.68 s " +
          "vs the carried 0.273 s - that r8 number is a warm-session " +
          "artifact current code cannot reach in ANY context measured " +
          "since, and it also rode forward through later files' best " +
          "maps (parse bug fixed alongside this reset)")),
      "q91_mixture_interleave" -> (15 ->
        ("r6 reset: pre-r6 best predates the same one-phase -> sharded " +
          "two-phase interleave switch. r15 re-reset: standalone " +
          "min-of-2 gives 0.43 s vs the carried 0.213 s (same r8 " +
          "warm-session artifact + best-map ride-forward as q90)")),
      "q167_tri_build" -> (16 ->
        ("r16 reset after the isolate re-measurement the r15 verdict " +
          "asked for: SPARK_GRAFT_ONLY min-of-2 gives 11.3-13.5 s " +
          "across two fresh sessions vs the carried r13 7.92 s - the " +
          "same warm-session-artifact class as q90/q91 (operator " +
          "unchanged; r15's in-run 10.1 s was inside the real " +
          "envelope, not a drift)")),
      "q77_simhash_wide" -> (16 ->
        ("r16 reset: the carried 0.854 s best is an r8 recording - the " +
          "round whose warm-session artifacts already forced the " +
          "q90/q91 resets. Every measurement before and since sits at " +
          "1.1-1.4 s in-run, and r16 standalone isolates give 1.8/2.0 " +
          "min-of-2; the operator is unchanged and 0.854 is " +
          "unreachable in any context measured since r8")))
    // Per-query best-so-far, merged from prior rounds' BENCH_r*.json in
    // the working directory: this host's CPU steal inflates single runs
    // 3-10x, so a round-over-round "regression" on an untouched path is
    // usually noise — the best column is the stable cross-round signal
    // (q46/q49 in round 7, q78/q81 in round 4 were all steal artifacts).
    val priorBest: Map[String, Double] = {
      // Tolerate JSON-escaped quotes: the driver's BENCH_r*.json wraps the
      // bench line inside a string field, so keys appear as \"q46...\":
      // Matches query names AND the amortized build-phase lines
      // (dupgraph_*), so phase costs get the same cross-round best /
      // regression tracking as queries.
      val rx = "\\\\?\"((?:q[0-9]|dupgraph_|bpeenc_|semkept_|cdcfp_)[A-Za-z0-9_]*)\\\\?\":(-?[0-9]+(?:\\.[0-9]+)?)".r
      // Two sources, same parse: the driver's BENCH_r*.json (whose tail
      // capture may hold only a fragment — any (query, seconds) pairs in
      // the fragment still count) and our own tracked bench_full/r*.json
      // full maps (written below each round — the fix for r16, whose
      // floors existed only in an untracked target/ file after the
      // driver's 2 KB tail cut the stdout line mid-map).
      def listFiles(dir: String, namePat: String) =
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
            .filter(_.getFileName.toString.matches(namePat)).toList
        } catch { case _: Throwable => Nil }
      val files = listFiles(".", "BENCH_r\\d+\\.json") ++
        listFiles("bench_full", "r\\d+(_\\d+)?\\.json")
      // Same-scale guard: a prior round's numbers only merge when it ran
      // the same sf directory (the tag rides the file's recorded sf dir)
      // — an sf0.01 dev run must never pollute the sf0.1 best column.
      val sfTag = java.nio.file.Paths.get(sfDir).getFileName.toString
      // Same-cpu guard (r21 verdict item 5), the sf guard's twin: a
      // scaling run at a different core count measures a different
      // machine — its fixed-overhead lines can undercut any 32-core
      // floor. Files RECORDING a cpus tag merge only when it matches
      // this run's; files predating the tag are all 32-core history and
      // merge only into 32-core runs. (Differently-cpu'd snapshots also
      // get a _cpuN filename the r-pattern above never lists.)
      val cpusRx = "\\\\?\"cpus\\\\?\":(\\d+)".r
      files
        .flatMap { p =>
          // Matches all naming schemes: BENCH_r16.json, bench_full/r16.json,
          // and the no-overwrite suffixed bench_full/r16_2.json.
          val round = "r(\\d+)(?:_\\d+)?\\.json".r
            .findFirstMatchIn(p.getFileName.toString)
            .map(_.group(1).toInt).getOrElse(0)
          val raw = try java.nio.file.Files.readString(p) catch { case _: Throwable => "" }
          // MEASUREMENTS ONLY: cut each file at its `"best"` field before
          // matching. A round's best map re-publishes the cross-round
          // minimum, so harvesting it would let one number ride forward
          // through every later file — which both double-counts it and
          // silently defeats best-floor resets (the pre-reset value
          // reappears via a post-reset file's best map; q90's r8 0.273
          // persisted verbatim through r11 this way).
          val txt = raw.indexOf("\\\"best\\\"") match {
            case -1 => raw.indexOf("\"best\"") match {
              case -1 => raw
              case i  => raw.substring(0, i)
            }
            case i => raw.substring(0, i)
          }
          // sf/cpu guards read the FULL text: both fields sit after the
          // best map, so they live in the part the cut removed.
          val cpuOk = cpusRx.findFirstMatchIn(raw)
            .map(_.group(1)).getOrElse("32") == cpus
          // Healed single-timed values are min(cold spike, warm in-run
          // re-time) — the warm re-time can undercut representative cold
          // cost, and a floor is forever (the one-directional ratchet
          // the r21 advisor flagged). Drop that file's healed lines from
          // the harvest; their floors come from untainted rounds.
          val healedHere: Set[String] =
            "\\\\?\"single_retimed\\\\?\":\\[([^\\]]*)\\]".r
              .findFirstMatchIn(raw).map(_.group(1))
              .map(s => "[A-Za-z0-9_]+".r.findAllIn(s).toSet)
              .getOrElse(Set.empty)
          if (raw.contains(sfTag) && cpuOk)
            rx.findAllMatchIn(txt)
              .map(m => (round, m.group(1), m.group(2).toDouble))
              .filterNot { case (_, k, _) => healedHere(k) }
          else Iterator.empty
        }
        .filter(_._3 >= 0)
        // Apply the floor: a reset query's pre-floor rounds don't count.
        .filter { case (round, k, _) =>
          bestFloorReset.get(k).forall { case (floor, _) => round >= floor }
        }
        .groupBy(_._2).map { case (k, vs) => k -> vs.map(_._3).min }
    }
    // Single-timed spike self-heal (r21, measurement fix — declared in
    // OPTIMIZATION_r21.md): a single-timed BUILD line whose one
    // measurement exceeds 2x its cross-round floor gets ONE bounded
    // in-run re-time (builds are idempotent; the r20 artifact carried a
    // 15.8 s-vs-6.8-floor line with zero flags because single-timed
    // lines are regression-exempt by protocol). Both the healed value
    // and the line's membership in `single_retimed` land in the JSON,
    // so the exemption stays auditable.
    val singleRetimed = scala.collection.mutable.ArrayBuffer.empty[String]
    // Both measurements land in the artifact (r21 advisor): the original
    // spike under single_retimed_orig, the min under queries — and the
    // floor scanner above skips healed lines entirely, so a warm in-run
    // re-time can never ratchet a cross-round floor downward.
    val singleRetimedOrig =
      scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val healedResults: Seq[(String, Double)] = {
      var budget = 8
      results.map { case (k, v) =>
        if (singleTimed(k) && v >= 0 && budget > 0 &&
            priorBest.get(k).exists(b => b > 0 && v > 2.0 * b)) {
          budget -= 1
          singleRetimed += k
          singleRetimedOrig(k) = v
          val t2 = firstPass.find(_._1 == k)
            .map { case (_, fn, _) => timeOne(k, fn) }.getOrElse(-1.0)
          k -> (if (t2 < 0) v else math.min(v, t2))
        } else k -> v
      }
    }
    // Third-pass adjudication (r17 verdict item 2): a NON-build line
    // still >1.5x its cross-round floor after min-of-2 gets ONE more
    // in-run re-time, and the reported number is min-of-3. Bounded by
    // construction: only lines whose floor is under 2 s qualify (the
    // sub-second class where host steal flagged ~30 lines in r17 at
    // <1 s each), and at most 40 lines re-run so a genuinely regressed
    // tree cannot stretch the bench unboundedly. Lines still flagged
    // AFTER this pass are listed in `third_pass` so the artifact itself
    // shows which flags survived three measurements — those are real
    // investigation candidates, not session noise.
    val thirdPass = scala.collection.mutable.ArrayBuffer.empty[String]
    val finalResults: Seq[(String, Double)] = {
      var budget = 40
      healedResults.map { case (k, v) =>
        val floor = priorBest.get(k)
        if (v >= 0 && budget > 0 && !singleTimed(k) &&
            floor.exists(b => v > 1.5 * b && b < 2.0)) {
          budget -= 1
          thirdPass += k
          val t3 = firstPass.find(_._1 == k)
            .map { case (_, fn, _) => timeOne(k, fn) }.getOrElse(-1.0)
          k -> (if (t3 < 0) v else math.min(v, t3))
        } else k -> v
      }
    }
    val total = finalResults.map(_._2).filter(_ >= 0).sum // exclude -1 failure sentinels
    val best: Map[String, Double] = finalResults.map { case (k, v) =>
      val cands = (priorBest.get(k).toSeq ++ Some(v).filter(_ >= 0)).filter(_ >= 0)
      k -> (if (cands.isEmpty) -1.0 else cands.min)
    }.toMap
    // The driver captures only a bounded tail of the output, and a truncated
    // JSON line is unparseable (round 3 proved an 82-query line overflows
    // it). So: the FULL per-query map goes to a file and to stderr — both
    // printed BEFORE the stdout line, so a combined-stream tail capture
    // always ends with the parseable stdout line — and the stdout line
    // itself carries total + sf + only the slowest queries, bounded to stay
    // well inside any plausible capture window.
    // Z-order pruning, tracked per round as a query-time number (q99
    // checks the curve values; LayoutSpec proves pruning on a synthetic
    // grid — this measures the PAYOFF on the bench tables at bench
    // scale): write (user_id, event_id) once z-laid-out and once sorted
    // by the leading column only, scan both with the same slab predicate
    // on the NON-leading dimension, report files touched + scan seconds.
    // File count = files contributing >= 1 row (input_file_name), the
    // same row-group-stats pruning a 100 TB reader gets.
    val zorderMetrics: String = try {
      import org.apache.spark.sql.functions.{col, input_file_name, lit, max}
      val ev = Tables.eventsTsNs(spark, sfDir).select(col("user_id"), col("event_id"))
      val nFiles = 32
      val base = s"/tmp/graft_zbench_${graft.queries.Q.scratchTag(sfDir)}"
      val zDir = s"$base/z"
      val linDir = s"$base/lin"
      // The zOrderBy contract: dimensions must span COMPARABLE ranges
      // (the interleave is raw-bit) — scale each onto a 15-bit lattice
      // from its max so neither dimension's high bits dominate the curve.
      val (umax, emax) = {
        val r = ev.agg(max("user_id"), max("event_id")).head()
        (r.getLong(0), r.getLong(1))
      }
      val uScaled = col("user_id") * lit(32767L) / lit(umax + 1L)
      val eScaled = col("event_id") * lit(32767L) / lit(emax + 1L)
      graft.operators.Layout.zOrderBy(ev, uScaled.cast("long"), eScaled.cast("long"), nFiles)
        .drop("z_value") // identical schemas so the scan comparison is fair
        .write.mode("overwrite").parquet(zDir)
      ev.repartitionByRange(nFiles, col("event_id"))
        .sortWithinPartitions("event_id", "user_id")
        .write.mode("overwrite").parquet(linDir)
      val bound = ev.agg(max("user_id")).head().getLong(0) / 4
      def scan(dir: String): (Long, Double) = {
        val t0 = System.nanoTime()
        spark.read.parquet(dir).filter(col("user_id") <= bound)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val nf = spark.read.parquet(dir).filter(col("user_id") <= bound)
          .select(input_file_name()).distinct().count()
        (nf, sec)
      }
      val (zf, zs) = scan(zDir)
      val (lf, ls) = scan(linDir)
      s""","zorder_files":$zf,"linear_files":$lf,"zorder_scan_sec":${fmt(zs)},"linear_scan_sec":${fmt(ls)}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] zorder metric failed: $e"); ""
    }
    // A query "regresses" only when its min-of-2 exceeds 1.5x the best
    // any prior round recorded at this scale — single-run spikes are
    // noise by protocol and never appear here. Known-unreachable bests
    // are excluded via bestFloorReset above (each reset carried in the
    // output with its round + reason), so every entry below is a genuine
    // investigation candidate.
    val regressed = finalResults.collect {
      case (k, v) if v >= 0 && !singleTimed(k) &&
        priorBest.get(k).exists(b => v > 1.5 * b) => k
    }
    val regressedJson = regressed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Session-health evidence lives in the artifact (r17 verdict item
    // 2): the probe pair brackets the measured work, and third_pass
    // lists the lines whose min-of-2 was still >1.5x floor and earned
    // the bounded extra re-time — read regressed_vs_best against these
    // three fields before calling anything a regression.
    val healthEnd = healthProbe()
    val thirdPassJson = thirdPass.map("\"" + _ + "\"").mkString("[", ",", "]")
    val healthJson =
      s""","health_probe_start_sec":${fmt(healthStart)},"health_probe_end_sec":${fmt(healthEnd)},"probe_retries":$probeRetries,"probe_hot_start":${healthStart > ProbeCeiling},"third_pass":$thirdPassJson"""
    val floorJson = bestFloorReset.toSeq.sortBy(_._1).map {
      case (k, (round, reason)) =>
        "\"" + k + "\":{\"round\":" + round + ",\"reason\":\"" + reason + "\"}"
    }.mkString("{", ",", "}")
    val fullQs = finalResults.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val fullBest = finalResults.map { case (k, _) => "\"" + k + "\":" + fmt(best(k)) }
      .mkString("{", ",", "}")
    // An isolation run is marked and writes to its own file: its total is
    // meaningless and must never shadow a round's full map.
    val onlyTag = if (only.isDefined) "\"only\":true," else ""
    val singleTimedJson = finalResults.collect { case (k, _) if singleTimed(k) => k }
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val singleRetimedJson = singleRetimed
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val singleRetimedOrigJson = singleRetimedOrig
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val fullLine =
      s"""{$onlyTag"round":$thisRound,"cpus":$cpus,"comparators_run":$comparatorsThisRound,"metric":"total","value":${fmt(total)},"unit":"sec","queries":$fullQs,"best":$fullBest,"regressed_vs_best":$regressedJson,"single_timed":$singleTimedJson,"single_retimed":$singleRetimedJson,"single_retimed_orig":$singleRetimedOrigJson,"best_floor_reset":$floorJson$zorderMetrics$healthJson,"sf":"$sfDir"}"""
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        if (only.isDefined) "target/bench_queries_only.json"
        else "target/bench_queries.json"), fullLine + "\n")
    // The tracked cross-round record (r16 verdict item 1b): the full
    // per-query map lands in bench_full/r<N>.json, which the floor
    // scanner above reads alongside the driver's BENCH_r*.json — so
    // floors survive even when the driver's bounded tail capture
    // truncates the stdout line. Guarded to the canonical bench scale
    // and full runs only: an sf0.01 dev run or an isolation run must
    // never overwrite a round's record (the scanner's sf guard would
    // drop it, but the file itself would be lost).
    if (only.isEmpty &&
        java.nio.file.Paths.get(sfDir).getFileName.toString == "sf0.1") {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("bench_full"))
      // Never overwrite an existing snapshot (r20 verdict item 5: a
      // re-run silently replaced the committed official record). Each
      // invocation writes the first free r<N>[_k].json; the floor
      // scanner above reads the suffixed names too, so every run's
      // measurements feed the best column and a round's committed
      // record survives later runs.
      // Non-32-core runs (the driver's scaling pass) get a _cpuN name the
      // floor scanner's r-pattern never lists — a scaling run can no
      // longer impersonate a round's 32-core record (r21 verdict item 5:
      // the driver's cpu-8 run filed itself as bench_full/r22.json).
      val stem = if (cpus == "32") s"bench_full/r$thisRound"
        else s"bench_full/r${thisRound}_cpu$cpus"
      val target = Iterator.single(s"$stem.json")
        .concat(Iterator.from(1).map(k => s"${stem}_$k.json"))
        .find(p => !java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
        .get
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(target), fullLine + "\n")
      System.err.println(s"[bench] full snapshot written to $target")
    }
    System.err.println(s"[bench] full per-query map: $fullLine")
    // The stdout line is the driver's artifact and its tail capture is
    // ~2 KB (r16's line outgrew it → BENCH_r16.json parsed:null). Keep
    // it small by construction: total + slowest-12 (+best) + regression
    // verdicts; floor resets as name->round only (prose lives in
    // PLANS.md §bench and in the bench_full line); single_timed as a
    // count (the full list is in the bench_full line).
    val slowTail = finalResults.sortBy(-_._2).take(12)
    val slowest = slowTail
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val slowestBest = slowTail
      .map { case (k, _) => "\"" + k + "\":" + fmt(best(k)) }
      .mkString("{", ",", "}")
    val floorCompact = bestFloorReset.toSeq.sortBy(_._1)
      .map { case (k, (round, _)) => "\"" + k + "\":" + round }
      .mkString("{", ",", "}")
    val singleTimedN = finalResults.count { case (k, _) => singleTimed(k) }
    println(s"""{$onlyTag"round":$thisRound,"cpus":$cpus,"comparators_run":$comparatorsThisRound,"metric":"total","value":${fmt(total)},"unit":"sec","queries":$slowest,"best":$slowestBest,"regressed_vs_best":$regressedJson,"single_timed_n":$singleTimedN,"single_retimed":$singleRetimedJson,"single_retimed_orig":$singleRetimedOrigJson,"best_floor_reset":$floorCompact$zorderMetrics$healthJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
