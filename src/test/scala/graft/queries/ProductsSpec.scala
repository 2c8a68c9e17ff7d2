package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Bench, SparkTestSession}
import graft.operators.{Bucketing, IvfIndex}

/** A stored product is rebuilt whenever its tables are missing from the
  * session's catalog. Each row fingerprints consumers of one stored
  * family, drops every table the family writes (the state a fresh
  * catalog presents to an ensure), and checks that the consumers return
  * the same rows again. The two directory products also lose their
  * directory, so only a rebuild can answer.
  */
class ProductsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val dir = SparkTestSession.sf0001
  private lazy val lines = Bench.lines(None).map(l => l.name -> l.run).toMap

  private type Consumer = (SparkSession, String) => DataFrame

  /** A consumer that ensures a product no registry line probes, then reads it. */
  private def read(ensure: (SparkSession, String) => Unit, table: String => String): Consumer =
    (s, d) => { ensure(s, d); s.table(table(d)) }

  private final case class Family(
      name: String,
      consumers: Seq[Consumer],
      tables: String => Seq[String],
      dirs: String => Seq[String] = _ => Nil)

  /** Registry or bench lines, by name. */
  private def q(names: String*): Seq[Consumer] =
    names.map(n => (s: SparkSession, d: String) => lines(n)(s, d))

  private val families = Seq(
    Family("DedupQueries full signatures", q("q226_star_mine_full"),
      d => Seq(DedupQueries.fullSigTable(d))),
    Family("DupGraphPhases",
      q("q150_incremental_canonicals", "q152_serving_refresh", "q154_refresh_small_delta"),
      d => {
        import DupGraphPhases._
        Seq(pairTable(d), compTable(d), rankTable(d), evenBaseTable(d),
          evenRankTable(d), evenCanonicalTable(d), touchedIdTable(d),
          touchedRankTable(d), servingCompTable(d), refreshedServingTable(d),
          smallDeltaServingTable(d))
      }),
    Family("TrianglePhases",
      q("q167_dup_triangles", "q176_truss_peel", "q178_triangle_refresh") :+
        read(TrianglePhases.ensureScaledRefreshed, TrianglePhases.scRefCntTable),
      d => {
        import TrianglePhases._
        Seq(vclsTable(d), cntTable(d), trussTable(d), statsTable(d), qTable(d),
          peeledTable(d), refCntTable(d), refTrussTable(d), refStatsTable(d),
          scRefCntTable(d), scRefTrussTable(d), scRefStatsTable(d))
      }),
    Family("TwinFoldPhases",
      q("q173_bounded_fold", "q173_scaled16_fold") ++ Seq(
        read(TwinFoldPhases.ensureFolded, TwinFoldPhases.foldedTable),
        read(TwinFoldPhases.ensureFoldedScaled, TwinFoldPhases.foldedScaledTable)),
      d => {
        import TwinFoldPhases._
        Seq(fpTable(d), boundedDeltaTable(d), scaledEvenTable(d),
          scaledFpTable(d), foldedTable(d), foldedScaledTable(d))
      }),
    Family("CdcPhases", q("q198_cdc_stored_probe"), d => Seq(CdcPhases.table(d))),
    Family("BpeEncPhases", q("q206_bpe_token_budget"),
      d => Seq(BpeEncPhases.encTable(d))),
    Family("SemKeptPhases", q("q213_curation_capstone_v3"),
      d => Seq(SemKeptPhases.keptTable(d))),
    Family("StatsPhases", q("q239_stats_catalog_costing"),
      d => Seq(StatsPhases.statsTable(d))),
    Family("WidePhases", q("q269w_scan16"),
      d => Seq(WidePhases.wideTable(d)), d => Seq(WidePhases.wideDir(d))),
    Family("HistPhases", q("q246_rule_conjunct_order"),
      d => Seq(HistPhases.histTable(d))),
    Family("McvPhases", q("q254_rule_conjunct_equality"),
      d => Seq(McvPhases.mcvTable(d))),
    Family("MvPhases",
      q("q249_mv_rewrite", "q252_mv_join_rewrite", "q266_mv_time_bucket",
        "q275_mv_computed_join", "q269w_cells"),
      d => {
        import MvPhases._
        Seq(mvTable(d), skTable(d), tsTable(d), tsTableWide(d), tsuTable(d))
      }),
    Family("ZCompactPhases", q("q166_zorder_compaction"),
      d => Seq(ZCompactPhases.layoutTable(d)), d => Seq(ZCompactPhases.layoutDir(d))),
    Family("IvfPhases",
      q("q85_ann_ivf_trained", "q156_ivf_delta_probe", "q228_ivf_compacted_probe"),
      d => {
        import IvfPhases._
        centsTable(d) +: (Seq(segPrefix(d), cmpPrefix(d)).flatMap { p =>
          Seq(IvfIndex.centroidTable(p), IvfIndex.corpusTable(p), IvfIndex.deltaTable(p))
        })
      }),
    Family("HdrPhases", q("q163_hdr_sketch_fold"), d => Seq(HdrPhases.hdrTable(d))),
    Family("KmvPhases", q("q164_kmv_fold"), d => Seq(KmvPhases.kmvTable(d))),
    Family("HllPhases", q("q160_hll_sketch_fold"),
      d => Seq(HllPhases.registerTable(d))),
    Family("CmPhases", q("q162_countmin_fold"), d => Seq(CmPhases.cmTable(d))),
    Family("DecontamPhases", q("q157_benchmark_fold"),
      d => Seq(DecontamPhases.reportTable(d), DecontamPhases.gramTable(d))))

  /** Each consumer's rows, rendered as JSON and sorted. */
  private def fingerprint(f: Family): Seq[Seq[String]] =
    f.consumers.map { c =>
      c(spark, dir).select(to_json(struct(col("*")))).collect().map(_.getString(0)).sorted.toSeq
    }

  families.foreach { f =>
    test(s"${f.name} rebuilds its products when the catalog lacks them") {
      val before = fingerprint(f)
      assert(before.forall(_.nonEmpty), s"${f.name}: a consumer returned no rows")
      f.tables(dir).foreach(Bucketing.dropWithLocation(spark, _))
      f.dirs(dir).foreach { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
      }
      assert(!f.tables(dir).exists(spark.catalog.tableExists))
      assert(fingerprint(f) == before)
      assert(f.tables(dir).forall(spark.catalog.tableExists),
        s"${f.name}: a consumer ran without storing every product table")
    }
  }

  test("Products.ensure rebuilds when only one named table is missing") {
    val (a, b) = ("graft_products_spec_a", "graft_products_spec_b")
    var builds = 0
    def build(): Unit = {
      builds += 1
      Products.store(spark.range(3).toDF("id"), a)
      Products.store(spark.range(5).toDF("id"), b)
    }
    try {
      Products.ensure(spark, a, b)(build())
      Products.ensure(spark, a, b)(build())
      assert(builds == 1)
      Bucketing.dropWithLocation(spark, b)
      Products.ensure(spark, a, b)(build())
      assert(builds == 2)
      assert(spark.table(b).count() == 5L)
    } finally Seq(a, b).foreach(Bucketing.dropWithLocation(spark, _))
  }
}
