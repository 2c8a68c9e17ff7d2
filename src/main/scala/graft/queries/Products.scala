package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Bucketing

/** Stored build products, scoped to the session's catalog. A product is
  * built when every table its build writes is in the catalog; nothing
  * else records it. The catalog belongs to one SparkContext, so a
  * restarted session rebuilds instead of trusting a table it cannot
  * read, and a build that failed partway is retried. `CatalogRules`
  * child sessions share the parent's catalog, so they see the same
  * products. Products are tables, never temp views, which child
  * sessions cannot see.
  *
  * No lock: each phase object keeps its own `synchronized` around its
  * ensure and build faces.
  */
object Products {

  /** Run `build` unless every one of `tables` exists. Name every table
    * the build writes, so a partial build is not taken for a whole one.
    */
  def ensure(spark: SparkSession, tables: String*)(build: => Unit): Unit =
    if (!tables.forall(spark.catalog.tableExists)) build

  /** Overwrite `table` with `df` as an unbucketed parquet table. */
  def store(df: DataFrame, table: String): Unit = {
    Bucketing.dropWithLocation(df.sparkSession, table)
    df.write.format("parquet").saveAsTable(table)
  }

  /** (Re)register `table` as an external parquet table over `path`, for a
    * product that is a directory its loaders read by path.
    */
  def register(spark: SparkSession, table: String, path: String): Unit = {
    Bucketing.dropWithLocation(spark, table)
    spark.catalog.createTable(table, path, "parquet")
  }
}
