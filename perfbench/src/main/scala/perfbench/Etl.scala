package perfbench

import java.io.File
import java.sql.{DriverManager, SQLException}

import scala.io.Source
import scala.util.Using

import org.apache.spark.sql.SparkSession

import graft.App
import graft.pipeline.TracePipeline
import graft.sinks.{CsvSinks, JdbcSink}

/** The reference job through `App.run`, one job per call, each with its own
  * run id, output directory and Derby database.
  */
object Etl {

  /** One job's inputs and outputs. */
  final case class Job(id: String, glob: String, outputRoot: String) {
    val dbName = s"perfbench_$id"
    val jdbcUrl = s"jdbc:derby:memory:$dbName;create=true"
    val config: App.AppConfig = App.configFromEnv(
      Map(
        "WRITE_CSV" -> "1",
        "WRITE_SQLITE" -> "1",
        "GRAFT_RUN_ID" -> id,
        "GRAFT_JDBC_URL" -> jdbcUrl),
      glob, outputRoot)
    def outDir: String = s"$outputRoot/$id"
  }

  def run(spark: SparkSession, job: Job): Unit = App.run(spark, job.config)

  /** `App.run`'s sequence rebuilt from its public calls, one span per call,
    * under the same conf.
    */
  def runTraced(spark: SparkSession, job: Job, tracer: Tracer, afterFull: () => Unit): Unit = {
    val cfg = job.config
    tracer.span("etl.job", job.id) {
      spark.conf.set("spark.sql.files.maxRecordsPerFile", cfg.maxRecordsPerFile)
      val raw = tracer.span("sources.read", job.id)(TracePipeline.read(spark, cfg.trace))
      val transformed =
        tracer.span("queries.build", job.id)(TracePipeline.transform(raw, cfg.trace).persist())
      try {
        tracer.span("sinks.csv_full", job.id)(CsvSinks.writeFull(transformed, s"${job.outDir}/full"))
        afterFull()
        tracer.span("sinks.csv_long", job.id)(
          CsvSinks.writeLongSlice(transformed, cfg.trace, s"${job.outDir}/long"))
        tracer.span("sinks.jdbc", job.id)(JdbcSink.write(transformed, cfg.jdbcUrl, cfg.jdbcTable,
          integerType = "BIGINT", textType = "CLOB", singleWriter = true))
      } finally tracer.span("pipeline.unpersist", job.id)(transformed.unpersist())
    }
  }

  /** Header, data rows and `SUM(duration_ms)` over one CSV output dir. */
  final case class CsvTotals(header: Seq[String], rows: Long, durationSum: Long, files: Int, bytes: Long)

  def csvFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".csv")).sortBy(_.getName)

  def csvTotals(dir: String): CsvTotals = {
    var header = Seq.empty[String]
    var rows = 0L
    var sum = 0L
    val files = csvFiles(dir)
    files.foreach { f =>
      Using.resource(Source.fromFile(f, "UTF-8")) { src =>
        val lines = src.getLines()
        if (lines.hasNext) {
          val h = lines.next().split(",", -1).toSeq
          if (header.isEmpty) header = h
          else if (h != header) throw new CheckFailed(s"$f: header $h differs from $header")
          lines.foreach { l =>
            rows += 1
            val first = l.takeWhile(_ != ',')
            sum += (try first.toLong catch {
              case _: NumberFormatException => throw new CheckFailed(s"$f: duration_ms '$first' is not a number")
            })
          }
        }
      }
    }
    CsvTotals(header, rows, sum, files.size, files.map(_.length).sum)
  }

  /** Fails unless `dir` holds the expected CSV: `duration_ms` first, the
    * union columns, the row count and the duration sum.
    */
  def checkCsv(dir: String, columns: Set[String], rows: Long, durationSum: Long): CsvTotals = {
    val t = csvTotals(dir)
    if (t.header.headOption.contains("duration_ms") && t.header.toSet == columns &&
        t.header.size == columns.size && t.rows == rows && t.durationSum == durationSum) t
    else throw new CheckFailed(
      s"$dir: header ${t.header.mkString(",")}, ${t.rows} rows, sum ${t.durationSum}; " +
        s"expected ${columns.size} columns led by duration_ms, $rows rows, sum $durationSum")
  }

  /** Fails unless the job's Derby table holds the expected rows, duration
    * sum and distinct UIDs; returns the row count.
    */
  def checkDerby(job: Job, rows: Long, durationSum: Long): Long =
    Using.resource(DriverManager.getConnection(job.jdbcUrl)) { c =>
      Using.resource(c.createStatement()) { st =>
        val rs = st.executeQuery(
          s"""SELECT COUNT(*), SUM("duration_ms"), COUNT(DISTINCT "UID") FROM ${job.config.jdbcTable}""")
        rs.next()
        val (n, sum, uids) = (rs.getLong(1), rs.getLong(2), rs.getLong(3))
        if (n == rows && sum == durationSum && uids == rows) n
        else throw new CheckFailed(
          s"derby ${job.dbName}: $n rows, sum $sum, $uids UIDs; expected $rows rows, sum $durationSum")
      }
    }

  /** Checks every output of a finished job against the expected results;
    * returns the rows read back from the Derby table.
    */
  def check(job: Job, e: TraceCorpus.Expected): Long = {
    checkCsv(s"${job.outDir}/full", e.columns, e.fullRows, e.fullDurationSum)
    checkCsv(s"${job.outDir}/long", e.columns, e.longRows, e.longDurationSum)
    checkDerby(job, e.fullRows, e.fullDurationSum)
  }

  /** Deletes the job's output directory and drops its Derby database. */
  def cleanup(job: Job): Unit = {
    Disk.deleteRecursively(new File(job.outDir))
    try DriverManager.getConnection(s"jdbc:derby:memory:${job.dbName};drop=true").close()
    catch {
      case e: SQLException if e.getSQLState == "08006" => // Derby's "dropped"
      case e: SQLException if e.getSQLState == "XJ004" => // never created: the job failed first
    }
  }
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Disk {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }
}
