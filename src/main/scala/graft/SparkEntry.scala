package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` holds one entry per implemented operator from SURVEY.md §2
  * plus the north-star extension operators (dedup / similarity / text /
  * multimodal); `oracleSql` carries the DuckDB-equivalent SQL for every
  * deterministic query. Column names/types are aligned pairwise — see
  * [[graft.queries.Q]] for the determinism contract.
  */
object SparkEntry {

  /** Full registry, in presentation order. */
  val registry: Seq[Q] =
    TraceQueries.all ++
      RelationalQueries.all ++
      DedupQueries.all ++
      SamplingQueries.all ++
      SimilarityQueries.all ++
      TextQueries.all ++
      MultimodalQueries.all ++
      ModelQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's own end-to-end pipeline (SURVEY.md §7 minimum slice).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_trace_pipeline")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2, built once. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
