package graft

import java.util.concurrent.{ExecutionException, Future, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

import org.apache.spark.sql.SparkSession

import graft.pipeline.{TraceConfig, TracePipeline}
import graft.sinks.{CsvSinks, JdbcSink}
import graft.sources.Manifest

/** End-to-end application driver — the user-facing equivalent of the
  * reference's `npm run start` (SURVEY.md §3 E1): configuration from
  * environment/args, sink selection, run-versioned output, one pipeline,
  * fan-out sinks.
  *
  * Reference parity points:
  *  - O18 sink selection: `WRITE_CSV` / `WRITE_SQLITE` env flags; neither
  *    set is a startup error (main.js:14-22) — message in English here.
  *  - O20 run versioning: each run writes under `output/<run-id>/`
  *    (main.js:42-46); run id injectable via `GRAFT_RUN_ID` for
  *    deterministic tests.
  *  - O9 chunking: `GRAFT_MAX_RECORDS_PER_FILE` caps rows per output file
  *    (the reference's 10k-row JSON chunks, main.js:108,180 — here a
  *    per-write option to the committer, not a driver-side loop).
  *  - O10 rerun skip: optional processed-file manifest.
  *  - O19 progress: stage-level log lines via a SparkListener (the
  *    reference's progress bars; Spark UI is disabled in-harness).
  */
object App {

  final case class AppConfig(
      inputGlob: String,
      outputRoot: String,
      runId: String,
      writeCsv: Boolean,
      writeJdbc: Boolean,
      jdbcUrl: String,
      jdbcTable: String,
      maxRecordsPerFile: Long,
      useManifest: Boolean,
      trace: TraceConfig)

  def configFromEnv(env: Map[String, String], inputGlob: String, outputRoot: String): AppConfig = {
    val writeCsv = env.getOrElse("WRITE_CSV", "0") == "1"
    val writeJdbc = env.getOrElse("WRITE_SQLITE", "0") == "1"
    require(writeCsv || writeJdbc,
      "No sink selected: set WRITE_CSV=1 and/or WRITE_SQLITE=1") // O18
    AppConfig(
      inputGlob = inputGlob,
      outputRoot = outputRoot,
      runId = env.getOrElse("GRAFT_RUN_ID", System.currentTimeMillis().toString),
      writeCsv = writeCsv,
      writeJdbc = writeJdbc,
      jdbcUrl = env.getOrElse("GRAFT_JDBC_URL", "jdbc:derby:memory:graft;create=true"),
      jdbcTable = env.getOrElse("GRAFT_JDBC_TABLE", "trace"),
      maxRecordsPerFile = Env.long(env, "GRAFT_MAX_RECORDS_PER_FILE").getOrElse(10000L),
      useManifest = env.getOrElse("GRAFT_USE_MANIFEST", "0") == "1",
      trace = TraceConfig(
        inputGlob = inputGlob,
        startCol = env.getOrElse("GRAFT_START_COL", "start_time"),
        endCol = env.getOrElse("GRAFT_END_COL", "end_time"),
        minDurationMs = Env.long(env, "GRAFT_MIN_DURATION_MS").getOrElse(2000L),
        longDurationMs = Env.long(env, "GRAFT_LONG_DURATION_MS").getOrElse(2650L)))
  }

  /** Run the full pipeline with the configured sinks; returns output dir.
    *
    * The sinks run in two waves over one persisted frame, on two threads:
    * the full CSV (which fills the cache) alongside the JDBC table's DDL,
    * then the long CSV alongside the single-writer JDBC append. A sink's
    * second step starts only if its first succeeded. Every started sink is
    * awaited before the cache is released; the first failure (in that
    * sink order) is rethrown with the others suppressed on it.
    */
  def run(spark: SparkSession, cfg: AppConfig): String = {
    val outDir = s"${cfg.outputRoot}/${cfg.runId}" // O20
    val csvCap = Some(cfg.maxRecordsPerFile) // O9, per write: the session conf is left alone

    // O19: stage-level progress lines (stands in for the progress bars).
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        println(s"[graft] stage ${s.stageInfo.stageId}: " +
          s"${s.stageInfo.numTasks} tasks, ${s.stageInfo.name.takeWhile(_ != ' ')}")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // Reference parity: a glob matching zero files is a clean no-op run
      // (the reference's file loop simply runs zero times, main.js:202-209);
      // Spark raises PATH_NOT_FOUND instead, so probe first.
      val raw =
        try TracePipeline.read(spark, cfg.trace)
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getCondition == "PATH_NOT_FOUND" =>
            println(s"[graft] no input files match ${cfg.inputGlob}; nothing to do")
            return outDir
        }
      val manifestDir = s"${cfg.outputRoot}/_manifest" // shared ACROSS runs (O10)
      val input = if (cfg.useManifest) Manifest.unprocessedOnly(raw, manifestDir) else raw
      val transformed = TracePipeline.transform(input, cfg.trace).persist()
      lazy val rows = JdbcSink.keyed(transformed) // O14-O17
      val sinks = new SinkThreads
      try {
        val full = sinks.start(cfg.writeCsv)( // O12
          CsvSinks.writeFull(transformed, s"$outDir/full", csvCap))
        val ddl = sinks.start(cfg.writeJdbc)(
          JdbcSink.prepareTable(rows, cfg.jdbcUrl, cfg.jdbcTable,
            integerType = "BIGINT", textType = "CLOB"))
        val fullFailure = sinks.await(full)
        val ddlFailure = sinks.await(ddl)
        val long = sinks.start(cfg.writeCsv && fullFailure.isEmpty)( // O13
          CsvSinks.writeLongSlice(transformed, cfg.trace, s"$outDir/long", csvCap))
        val append = sinks.start(cfg.writeJdbc && ddlFailure.isEmpty)(
          JdbcSink.append(rows, cfg.jdbcUrl, cfg.jdbcTable, singleWriter = true))
        val failures = Seq(fullFailure, ddlFailure, sinks.await(long), sinks.await(append)).flatten
        failures.headOption.foreach { first =>
          failures.tail.foreach(first.addSuppressed)
          throw first
        }
        if (cfg.useManifest) Manifest.markProcessed(raw, manifestDir)
      } finally {
        sinks.close()
        transformed.unpersist()
      }
      outDir
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The two threads `run` overlaps its sinks on. Both start at
    * construction, outside any running SQL execution: a thread copies
    * Spark's local properties (`spark.sql.execution.id`, job group) from
    * the thread that creates it.
    */
  private final class SinkThreads extends AutoCloseable {
    private val pool = new ThreadPoolExecutor(2, 2, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
        val t = new Thread(r, "graft-app-sink")
        t.setDaemon(true)
        t
      })
    pool.prestartAllCoreThreads()

    def start(enabled: Boolean)(body: => Unit): Option[Future[_]] =
      if (enabled) {
        val task: Runnable = () => body
        Some(pool.submit(task))
      } else None

    /** Waits for a started sink; returns its failure, if any. */
    def await(sink: Option[Future[_]]): Option[Throwable] =
      sink.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }

    def close(): Unit = pool.shutdown()
  }

  def main(args: Array[String]): Unit = {
    val inputGlob = args.lift(0).getOrElse(sys.error("usage: App <inputGlob> <outputRoot>"))
    val outputRoot = args.lift(1).getOrElse(sys.error("usage: App <inputGlob> <outputRoot>"))
    val cfg = configFromEnv(sys.env, inputGlob, outputRoot)
    val spark = GraftSession.get("graft-app")
    try println(s"[graft] wrote ${run(spark, cfg)}")
    finally spark.stop()
  }
}
