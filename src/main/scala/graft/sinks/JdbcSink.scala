package graft.sinks

import java.sql.{Connection, DriverManager}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational sink with the reference's generated-DDL + two-class type model
  * (SURVEY.md §2 O14-O17).
  *
  * The reference targets SQLite: dynamic `CREATE TABLE IF NOT EXISTS trace`
  * built from the runtime key set, columns typed INTEGER when listed in
  * `numberKeys = {_timestamp, duration, duration_ms, end_time, start_time}`
  * else TEXT (main.js:287-313), a per-row prepared INSERT (main.js:329-352),
  * and a VACUUM every 1000 rows (main.js:316-328 — an anti-pattern with no
  * distributed analogue). Here: schema-driven DDL + Spark's batched JDBC
  * writer. Intent semantics per §2.10 B4: real SQL NULLs, `0` stays `0`
  * (the reference coerces every falsy cell to the string `"NULL"`).
  *
  * Scale note: `df.write.jdbc` issues batched inserts from every partition in
  * parallel; `batchsize` bounds round-trips. For single-writer targets like
  * SQLite, `coalesce(1)` before the write — a deliberate sink-side, not
  * plan-side, constraint.
  */
object JdbcSink {

  /** The reference's numeric-column allowlist (main.js:287-294; `""` omitted
    * — an empty column name cannot exist in a parquet schema).
    */
  val defaultNumberKeys: Set[String] =
    Set("_timestamp", "duration", "duration_ms", "end_time", "start_time")

  /** O16 intent: cast allowlisted columns to INTEGER (LongType), everything
    * else to TEXT (StringType), preserving NULLs.
    */
  def coerceTypes(df: DataFrame, numberKeys: Set[String] = defaultNumberKeys): DataFrame = {
    val cols = df.columns.toIndexedSeq.map { c =>
      if (numberKeys.contains(c)) col(c).cast(LongType).as(c)
      else col(c).cast(StringType).as(c)
    }
    df.select(cols: _*)
  }

  /** O16 LITERAL parity (SURVEY §2.10 B4) — deliberately divergent mode for
    * byte-compatible migration: the reference coerces every falsy cell
    * (null, 0, "", false) to the 4-char string `"NULL"`, including in
    * INTEGER-typed columns (SQLite type affinity permits mixed storage).
    * Spark columns are monotyped, so literal mode renders EVERY column as
    * TEXT with the falsy->"NULL" rule — matching what the reference's
    * SQLite file reads back as for affected cells. Default OFF: intent mode
    * ([[coerceTypes]]) keeps real NULLs and real zeros.
    *
    * Falsiness is decided on the TYPED value, never its string rendering
    * (a string render check misses DECIMAL zeros like "0.0000", scientific
    * notation, and NaN): numerics are falsy iff == 0 or NaN, booleans iff
    * false, strings iff empty. JS treats every non-null object (dates,
    * arrays, ...) as truthy, so other types only null-check.
    */
  def coerceTypesLiteral(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toIndexedSeq.map { f =>
      val c = col(f.name)
      val falsy = f.dataType match {
        case DoubleType | FloatType => (c === 0) || isnan(c)
        case _: NumericType => c === 0
        case BooleanType => !c
        case StringType => c === ""
        case _ => lit(false)
      }
      when(c.isNull || falsy, lit("NULL"))
        .otherwise(c.cast(StringType))
        .as(f.name)
    }
    df.select(cols: _*)
  }

  /** O14: dynamic DDL from the (coerced) schema — `UID TEXT PRIMARY KEY`
    * first, then one column per key (main.js:296-313).
    */
  def createTableDdl(
      df: DataFrame,
      table: String,
      numberKeys: Set[String] = defaultNumberKeys,
      integerType: String = "INTEGER",
      textType: String = "TEXT"): String = {
    val cols = df.columns.filterNot(_ == "UID").map { c =>
      val t = if (numberKeys.contains(c)) integerType else textType
      s""""$c" $t"""
    }
    s"""CREATE TABLE $table ("UID" VARCHAR(64) PRIMARY KEY, ${cols.mkString(", ")})"""
  }

  /** O15+O16: the frame [[write]] appends — `UID` first, then every column
    * coerced to the INTEGER/TEXT model. A df that already carries a `UID`
    * column keeps it verbatim; otherwise each row gets a fresh `uuid()`.
    */
  def keyed(df: DataFrame, numberKeys: Set[String] = defaultNumberKeys): DataFrame = {
    val withUid =
      if (df.columns.contains("UID")) df
      else df.withColumn("UID", expr("uuid()"))
    val ordered = withUid.select(("UID" +: withUid.columns.filterNot(_ == "UID").toIndexedSeq).map(col): _*)
    coerceTypes(ordered, numberKeys).withColumn("UID", col("UID").cast(StringType))
  }

  /** Whether `table` exists on `conn`.
    *
    * Identifier folding differs per engine (Derby/H2 upper-fold, PostgreSQL
    * lower-folds, SQLite is case-insensitive): probe all three. getTables
    * treats the name as a LIKE pattern, so '_'/'%' are escaped with the
    * driver's escape string, or "my_table" would match an unrelated
    * "myXtable". A qualified `schema.table` probes that SPECIFIC schema — a
    * null schema pattern matches same-named tables in unrelated schemas.
    */
  def tableExists(conn: Connection, table: String): Boolean = {
    val meta = conn.getMetaData
    val esc = meta.getSearchStringEscape
    def escape(t: String): String =
      t.replace(esc, esc + esc).replace("_", esc + "_").replace("%", esc + "%")
    def variants(s: String): Seq[String] =
      Seq(s, s.toUpperCase, s.toLowerCase).distinct
    val (schemaPart, tablePart) = table.split("\\.", 2) match {
      case Array(s, t) => (Some(s), t)
      case _ => (None, table)
    }
    val schemaPatterns =
      schemaPart.map(variants(_).map(escape)).getOrElse(Seq(null))
    variants(tablePart).exists { t =>
      schemaPatterns.exists { sp =>
        val rs = meta.getTables(null, sp, escape(t), null)
        try rs.next() finally rs.close()
      }
    }
  }

  /** O14: create `table` from `keyedDf`'s schema unless it exists, over a
    * direct JDBC connection (Spark's writer cannot express PRIMARY KEY).
    * Reads only the schema: no Spark job runs.
    */
  def prepareTable(
      keyedDf: DataFrame,
      url: String,
      table: String,
      properties: Properties = new Properties(),
      numberKeys: Set[String] = defaultNumberKeys,
      integerType: String = "INTEGER",
      textType: String = "TEXT"): Unit = {
    val conn = DriverManager.getConnection(url, properties)
    try {
      if (!tableExists(conn, table)) {
        val st = conn.createStatement()
        try st.executeUpdate(createTableDdl(keyedDf, table, numberKeys, integerType, textType))
        finally st.close()
      }
    } finally conn.close()
  }

  /** O17: append `keyedDf` to a prepared table with batched inserts;
    * `singleWriter` funnels them through one task.
    */
  def append(
      keyedDf: DataFrame,
      url: String,
      table: String,
      properties: Properties = new Properties(),
      batchSize: Int = 1000,
      singleWriter: Boolean = false): Unit = {
    val out = if (singleWriter) keyedDf.coalesce(1) else keyedDf
    out.write
      .mode(SaveMode.Append)
      .option("batchsize", batchSize.toString)
      .option("truncate", "false")
      .jdbc(url, table, properties)
  }

  /** O14-O17 in one call: [[keyed]], [[prepareTable]], then [[append]].
    *
    * Rerun semantics: the default `uuid()` UID mirrors the reference
    * (O15, a fresh v4 per insert) and therefore CANNOT make reruns
    * idempotent — after a partial failure, re-running appends committed
    * partitions again under new UIDs. For rerun-safe appends pass a df
    * that already carries a content-derived `UID` column (it is kept
    * verbatim — see `TracePipeline.withDeterministicUid`), so the PRIMARY
    * KEY rejects re-inserted rows; for streaming, use
    * [[graft.streaming.IdempotentJdbcSink]].
    */
  def write(
      df: DataFrame,
      url: String,
      table: String,
      properties: Properties = new Properties(),
      numberKeys: Set[String] = defaultNumberKeys,
      batchSize: Int = 1000,
      singleWriter: Boolean = false,
      integerType: String = "INTEGER",
      textType: String = "TEXT"): Unit = {
    val rows = keyed(df, numberKeys)
    prepareTable(rows, url, table, properties, numberKeys, integerType, textType)
    append(rows, url, table, properties, batchSize, singleWriter)
  }
}
