package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.perfbench.StatusStore

import graft.SparkEntry

/** One timed operation: its name, seconds, and whether it ran and passed
  * its output check.
  */
final case class OpTime(name: String, seconds: Double, ok: Boolean)

/** Outcome of [[Workload.recheck]]: checks made, checks failed, and the
  * result rows the checked operations returned, where the timed passes
  * cannot count them.
  */
final case class Checked(attempted: Int, failed: Int, rowsOut: Option[Long])

/** Layer figures of one traced pass, keyed by per-layer metric name. */
final class LayerSums {
  val values: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(name: String, v: Double): Unit = values(name) = values.getOrElse(name, 0.0) + v
}

trait Workload {
  def name: String

  /** Stages or generates this setup's inputs under `dir`. */
  def prepare(spark: SparkSession, dir: String): Unit

  /** Runs the operations untimed. The first setup of a run, in a cold JVM,
    * runs them [[coldRounds]] times and checks every output of the first
    * round; a later setup, whose JVM code is warmer, runs them once. Returns
    * how many operations ran and how many failed or mismatched.
    */
  def warmup(spark: SparkSession, first: Boolean): (Int, Int)

  /** Rounds of operations the first setup warms up with: enough that the
    * timed passes no longer get much faster one after another as the JIT
    * compiles more of the driver's code.
    */
  def coldRounds: Int

  /** One timed pass; output checks run between operations, untimed. */
  def pass(spark: SparkSession): Seq[OpTime]

  /** Checks the outputs of the session the passes ran in once more, after
    * them and outside the timed region.
    */
  def recheck(spark: SparkSession): Checked

  /** One pass with every public call inside a span. */
  def tracedPass(spark: SparkSession, tracer: Tracer, sums: LayerSums): Seq[OpTime]

  /** Seconds one warm timed pass takes on the 4-core host of the recorded
    * runs (NOTES.md); it sizes the timed region, see [[Main.timedPasses]].
    */
  def nominalPassSeconds: Double

  /** Input rows one pass processes. */
  def inputRowsPerPass: Long

  /** Input files and bytes on disk. */
  def inputFiles: (Int, Long)

  protected def timed(name: String)(body: => Unit): (OpTime, Option[Throwable]) = {
    val t0 = System.nanoTime()
    val err = try { body; None } catch { case e: Throwable => Some(e) }
    (OpTime(name, (System.nanoTime() - t0) / 1e9, err.isEmpty), err)
  }

  protected def report(e: Throwable, what: String): Unit =
    System.err.println(s"[perfbench] $what failed: $e")
}

/** `App.run` over a seeded trace corpus, one job per pass. */
final class EtlWorkload(val name: String, spec: TraceCorpus.Spec) extends Workload {
  private var glob = ""
  private var outputRoot = ""
  private var inputDir = ""
  private var expected: TraceCorpus.Expected = _
  private var jobSeq = 0

  def prepare(spark: SparkSession, dir: String): Unit = {
    inputDir = s"$dir/input"
    outputRoot = s"$dir/output"
    glob = TraceCorpus.write(spec, inputDir)
    expected = TraceCorpus.expected(spec)
  }

  private def nextJob(): Etl.Job = {
    jobSeq += 1
    Etl.Job(s"job$jobSeq", glob, outputRoot)
  }

  /** Checks (when the job ran) and removes a job's outputs; returns the
    * rows read back from its Derby table, or None on a failed check.
    */
  private def finish(job: Etl.Job, ran: Boolean): Option[Long] =
    try { if (ran) Some(Etl.check(job, expected)) else None }
    catch { case e: Throwable => report(e, s"check of ${job.id}"); None }
    finally Etl.cleanup(job)

  private def one(spark: SparkSession): OpTime = {
    val job = nextJob()
    val (t, err) = timed(job.id)(Etl.run(spark, job))
    err.foreach(report(_, job.id))
    t.copy(ok = finish(job, err.isEmpty).isDefined)
  }

  def coldRounds: Int = 4

  /** Every etl job is checked, so the first round is too. */
  def warmup(spark: SparkSession, first: Boolean): (Int, Int) = {
    val ops = Seq.fill(if (first) coldRounds else 1)(one(spark))
    (ops.size, ops.count(!_.ok))
  }

  def pass(spark: SparkSession): Seq[OpTime] = Seq(one(spark))

  /** Every job is checked as it finishes; nothing is left to check. */
  def recheck(spark: SparkSession): Checked = Checked(0, 0, None)

  def tracedPass(spark: SparkSession, tracer: Tracer, sums: LayerSums): Seq[OpTime] = {
    val job = nextJob()
    val (t, err) = timed(job.id)(Etl.runTraced(spark, job, tracer,
      () => sums.add("pipeline.cache_bytes", StatusStore.cachedBytes(spark.sparkContext).toDouble)))
    err.foreach(report(_, s"traced ${job.id}"))
    if (err.isEmpty) {
      val full = Etl.csvTotals(s"${job.outDir}/full")
      val long = Etl.csvTotals(s"${job.outDir}/long")
      sums.add("sinks.csv_files", full.files + long.files)
      sums.add("sinks.csv_bytes_out", (full.bytes + long.bytes).toDouble)
      sums.add("pipeline.rows_out", full.rows.toDouble)
    }
    val jdbcRows = finish(job, err.isEmpty)
    jdbcRows.foreach(r => sums.add("sinks.jdbc_rows", r.toDouble))
    Seq(t.copy(ok = jdbcRows.isDefined))
  }

  def nominalPassSeconds: Double = 1.6

  def inputRowsPerPass: Long = spec.rows

  def inputFiles: (Int, Long) = {
    val parquet = new File(inputDir).listFiles().toSeq
      .flatMap(d => Option(d.listFiles()).toSeq.flatten).filter(_.getName.endsWith(".parquet"))
    (parquet.size, parquet.map(_.length).sum)
  }
}

/** Registry lines and builds over a private copy of the fixture tables. */
final class RegistryWorkload(val name: String, fixtureDir: String, seed: Long,
    expected: Map[String, String]) extends Workload {
  private var dir = ""
  private val steps = Registry.order(seed)

  def prepare(spark: SparkSession, setupDir: String): Unit = {
    dir = s"$setupDir/data"
    new File(dir).mkdirs()
    new File(fixtureDir).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.copy(f.toPath, new File(dir, f.getName).toPath)
    }
  }

  /** Runs every step once, fingerprinting each line's result instead of
    * discarding it, and compares the fingerprints with `expected`. Returns
    * the fingerprints and the number of steps that failed or mismatched.
    */
  def fingerprints(spark: SparkSession): (Map[String, String], Int) = {
    var failed = 0
    val got = steps.flatMap { s =>
      try {
        if (s.kind == "line")
          Some(s.name -> Registry.fingerprint(SparkEntry.queries(s.name)(spark, dir)))
        else { s.run(spark, dir); None }
      } catch { case e: Throwable => report(e, s.name); failed += 1; None }
    }.toMap
    got.foreach { case (line, fp) =>
      if (!expected.get(line).contains(fp)) {
        report(new CheckFailed(s"fingerprint $fp, expected ${expected.getOrElse(line, "none")}"), line)
        failed += 1
      }
    }
    (got, failed)
  }

  def coldRounds: Int = 4

  /** In the first setup, the first round fingerprints every line, so the
    * cold calls are checked.
    */
  def warmup(spark: SparkSession, first: Boolean): (Int, Int) =
    if (first) {
      val failed = fingerprints(spark)._2 + Seq.fill(coldRounds - 1)(pass(spark)).flatten.count(!_.ok)
      (coldRounds * steps.size, failed)
    } else (steps.size, pass(spark).count(!_.ok))

  /** Fingerprints every line once more in the session the timed passes
    * warmed, so memos and stored products they reuse are checked too. The
    * noop sink counts no rows, so the rows a pass's lines return are the
    * row counts read here.
    */
  def recheck(spark: SparkSession): Checked = {
    val (got, failed) = fingerprints(spark)
    Checked(steps.size, failed, Some(got.values.map(_.takeWhile(_ != ':').toLong).sum))
  }

  def pass(spark: SparkSession): Seq[OpTime] = steps.map { s =>
    val (t, err) = timed(s.name)(s.run(spark, dir))
    err.foreach(report(_, s.name))
    t
  }

  private val warehouse = new File(s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")

  private def files(d: File): Map[String, Long] =
    if (d.isDirectory) Option(d.listFiles()).toSeq.flatten.flatMap(f => files(f)).toMap
    else if (d.isFile) Map(d.getPath -> d.lastModified)
    else Map.empty

  def tracedPass(spark: SparkSession, tracer: Tracer, sums: LayerSums): Seq[OpTime] = steps.map { s =>
    val before = if (s.kind == "phase") files(warehouse) else Map.empty[String, Long]
    val (t, err) = timed(s.name)(tracer.span("queries.op", s.name) {
      if (s.kind == "line") {
        val df = tracer.span("queries.build", s.name)(SparkEntry.queries(s.name)(spark, dir))
        tracer.span("queries.execute", s.name)(Registry.noop(df))
      } else tracer.span("queries.phase", s.name)(s.run(spark, dir))
    })
    err.foreach(report(_, s"traced ${s.name}"))
    if (s.kind == "phase") {
      val after = files(warehouse)
      sums.add("queries.phase_files", after.count { case (p, m) => !before.get(p).contains(m) })
    }
    t
  }

  def nominalPassSeconds: Double = 2.4

  def inputRowsPerPass: Long = Registry.footerRows(dir)

  def inputFiles: (Int, Long) = {
    val fs = new File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    (fs.length, fs.map(_.length).sum)
  }
}
