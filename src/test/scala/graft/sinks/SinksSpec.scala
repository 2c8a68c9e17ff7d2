package graft.sinks

import java.nio.file.Files
import java.util.Properties

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.pipeline.TraceConfig

/** Sink specs: CSV fan-out (O12-O13, with B5 fixed by construction) and the
  * JDBC sink with generated DDL + the INTEGER/TEXT type model (O14-O17),
  * exercised against embedded Derby (the JDBC engine available in-harness;
  * SQLite swaps in via url/driver with integerType left at its SQLite
  * default).
  */
class SinksSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val df = Seq(
    (2500L, 100L, 0L, "x"),
    (2700L, 200L, 5L, "y"),
    (3000L, 300L, 7L, null.asInstanceOf[String])
  ).toDF("duration_ms", "start_time", "zero_col", "tag")

  test("CSV fan-out writes header CSV + long slice over one persisted plan (O12-O13)") {
    val dir = Files.createTempDirectory("csv_sink").toString
    val cfg = TraceConfig(inputGlob = "unused")
    val cached = df.persist()
    try {
      CsvSinks.writeFull(cached, s"$dir/full")
      CsvSinks.writeLongSlice(cached, cfg, s"$dir/long")
    } finally cached.unpersist()
    val full = spark.read.option("header", "true").csv(s"$dir/full")
    val long = spark.read.option("header", "true").csv(s"$dir/long")
    assert(full.count() == 3)
    assert(long.count() == 2) // >= 2650 only
    assert(full.columns.toSeq == df.columns.toSeq)
    // zeros stay "0" (B4 intent), nulls stay empty
    assert(full.filter(col("zero_col") === "0").count() == 1)
  }

  test("CSV sink serializes complex types to JSON (CSV cannot carry arrays)") {
    val dir = Files.createTempDirectory("csv_complex").toString
    val cdf = Seq((1L, Array(1.5f, 2.5f))).toDF("id", "emb")
    CsvSinks.writeFull(cdf, dir)
    val back = spark.read.option("header", "true").csv(dir).head
    assert(back.getString(1) == "[1.5,2.5]")
  }

  test("JDBC DDL follows the reference type model: UID PK + INTEGER/TEXT split (O14)") {
    val ddl = JdbcSink.createTableDdl(df, "trace")
    assert(ddl.startsWith("""CREATE TABLE trace ("UID" VARCHAR(64) PRIMARY KEY"""))
    assert(ddl.contains(""""duration_ms" INTEGER"""))
    assert(ddl.contains(""""start_time" INTEGER"""))
    assert(ddl.contains(""""tag" TEXT""")) // not in numberKeys -> TEXT
    assert(ddl.contains(""""zero_col" TEXT""")) // dynamic keys default to TEXT
  }

  test("literal-parity mode (B4): falsy cells become the string 'NULL', everything TEXT") {
    val lit = JdbcSink.coerceTypesLiteral(df)
    assert(lit.schema.fields.forall(_.dataType.typeName == "string"))
    val rows = lit.orderBy("duration_ms").collect()
    assert(rows(0).getString(2) == "NULL") // zero_col 0 -> "NULL" (literal B4)
    assert(rows(2).getString(3) == "NULL") // null tag -> "NULL" string
    assert(rows(0).getString(0) == "2500") // truthy numbers render as text
    // and the default intent mode keeps real values (contrast pin)
    val intent = JdbcSink.coerceTypes(df)
    assert(intent.filter(col("zero_col") === "0").count() == 1)
  }

  test("literal-parity falsiness is typed: DECIMAL 0.0000 and NaN are falsy, string '0' is not") {
    val odd = Seq(
      (1, new java.math.BigDecimal("0.0000"), Double.NaN, "0", false),
      (2, new java.math.BigDecimal("12.0000"), 1.5, "", true)
    ).toDF("id", "dec", "dbl", "str", "bool")
    // post-coercion every column is TEXT, so order by the (truthy) id
    val rows = JdbcSink.coerceTypesLiteral(odd).orderBy("id").collect()
    assert(rows(0).getString(1) == "NULL") // decimal zero renders "0.0000..." — still falsy
    assert(rows(0).getString(2) == "NULL") // NaN is falsy in JS
    assert(rows(0).getString(3) == "0") // the STRING "0" is truthy in JS
    assert(rows(0).getString(4) == "NULL") // false
    assert(rows(1).getString(1).toDouble == 12.0 && rows(1).getString(2) == "1.5")
    assert(rows(1).getString(3) == "NULL") // empty string is falsy
    assert(rows(1).getString(4) == "true")
  }

  test("JDBC sink writes through Derby: table created, rows appended, types coerced, NULLs real (O15-O17)") {
    // Text columns are CLOB because Spark's Derby dialect binds string NULLs
    // as setNull(Types.CLOB); a VARCHAR column rejects that (ERROR 22005).
    val url = "jdbc:derby:memory:sinkdb;create=true"
    val props = new Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    JdbcSink.write(df, url, "trace", props,
      integerType = "BIGINT", textType = "CLOB", singleWriter = true)
    val back = spark.read.jdbc(url, "trace", props)
    assert(back.count() == 3)
    assert(back.select("UID").distinct().count() == 3) // uuid per row (O15)
    // number-key column round-trips as a number, zero stays 0 (B4 intent)
    assert(back.filter(col("duration_ms") === 2500L).count() == 1)
    // TEXT column keeps real NULL, not the string "NULL". (Checked driver-
    // side: Derby cannot evaluate pushed-down CLOB equality predicates.)
    val tags = back.select("tag").collect().map(r => Option(r.getString(0)))
    assert(tags.count(_.isEmpty) == 1)
    assert(!tags.flatten.contains("NULL"))
    // idempotent append: second write doubles rows via batched inserts
    JdbcSink.write(df, url, "trace", props,
      integerType = "BIGINT", textType = "CLOB", singleWriter = true)
    assert(spark.read.jdbc(url, "trace", props).count() == 6)
  }
}
