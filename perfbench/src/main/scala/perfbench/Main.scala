package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.perfbench.StatusStore

import graft.GraftSession

/** Runs one workload in one process and writes the result as one JSON
  * object.
  *
  * A run sets up [[Setups]] times (session start, seeded inputs, warm-up;
  * the first warm-up is longer and checks every output), then times as many
  * whole passes as `--seconds` holds at the workload's nominal pass time
  * ([[timedPasses]]), and finally checks the
  * outputs of the session the passes ran in once more. With `--trace 1`
  * untraced and traced passes take turns, and the per-layer figures are
  * reported instead of the end-to-end ones.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --out <file> --cores <n> --fixture <dir> --expected <file>`
  */
object Main {

  val Setups = 3

  /** End-to-end metrics and their units, in report order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "op_p50_s" -> "s", "op_tail_s" -> "s",
    "rows_per_s" -> "1/s", "cpu_s" -> "s", "heap_retained_mb" -> "MB")

  /** Per-layer metrics and their units, in report order. */
  val PerLayer: Seq[(String, String)] = Seq(
    "session.start_s" -> "s", "setup.generate_s" -> "s", "setup.warmup_s" -> "s",
    "sources.read_s" -> "s", "sources.read_jobs" -> "count", "sources.files" -> "count",
    "sources.input_bytes" -> "bytes",
    "pipeline.rows_in" -> "count", "pipeline.rows_out" -> "count",
    "pipeline.shuffle_write_bytes" -> "bytes", "pipeline.cache_bytes" -> "bytes",
    "sinks.csv_full_s" -> "s", "sinks.csv_long_s" -> "s", "sinks.csv_files" -> "count",
    "sinks.csv_bytes_out" -> "bytes",
    "sinks.jdbc_s" -> "s", "sinks.jdbc_rows" -> "count", "sinks.jdbc_rows_per_s" -> "1/s",
    "sinks.jdbc_tasks" -> "count",
    "queries.build_s" -> "s", "queries.build_jobs" -> "count", "queries.outside_qe_s" -> "s",
    "queries.phase_build_s" -> "s", "queries.phase_output_bytes" -> "bytes",
    "queries.phase_files" -> "count",
    "plans.analysis_s" -> "s", "plans.optimization_s" -> "s", "plans.planning_s" -> "s",
    "operators.exec_s" -> "s", "operators.jobs" -> "count", "operators.stages" -> "count",
    "operators.tasks" -> "count", "operators.task_run_s" -> "s", "operators.task_cpu_s" -> "s",
    "operators.gc_s" -> "s", "operators.core_busy" -> "ratio",
    "operators.shuffle_write_bytes" -> "bytes", "operators.shuffle_read_bytes" -> "bytes",
    "operators.spill_bytes" -> "bytes",
    "trace.untraced_wall_s" -> "s", "trace.traced_wall_s" -> "s", "trace.overhead_s" -> "s",
    "trace.untraced_gap_s" -> "s", "trace.closure_error" -> "ratio", "trace.untraced_jobs" -> "count",
    "trace.traced_jobs" -> "count")

  /** The largest share of the traced operations' wall time that the layer
    * spans may leave uncovered.
    */
  val ClosureTolerance = 0.01

  /** Timed passes for a run of `seconds`: as many as fit at the workload's
    * nominal pass time. A fixed count, rather than a loop on the clock,
    * times the same work at the same point of the JIT's warm-up in every
    * run, so a slow host does not also move the median to earlier, slower
    * passes, and the tail percentile does not jump with the sample count.
    */
  def timedPasses(seconds: Int, w: Workload): Int =
    math.max(1, math.round(seconds / w.nominalPassSeconds).toInt)

  /** Timing stops early once the passes have taken this many times
    * `--seconds`, so a much slower program still ends within the run's time
    * limit.
    */
  val MaxStretch = 3

  final case class Options(
      workload: String,
      seed: Long,
      seconds: Int,
      trace: Boolean,
      work: String,
      out: String,
      cores: Int,
      fixture: String,
      expected: String)

  def parse(args: Array[String]): Options = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Options(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
      },
      work = need("work"),
      out = need("out"),
      cores = need("cores").toInt,
      fixture = need("fixture"),
      expected = need("expected"))
  }

  /** The workloads, by name. Sizes are recorded in BENCHMARK.json. */
  def workload(o: Options): Workload = o.workload match {
    case "etl" =>
      new EtlWorkload("etl", TraceCorpus.Spec(files = 40, rowsPerFile = 400, o.seed))
    case "registry_mix" =>
      new RegistryWorkload("registry_mix", o.fixture, o.seed, Fingerprints.read(o.expected))
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** Driver old-generation bytes in use after a full collection, in MiB.
    * The first collection lets Spark's context cleaner release what weakly
    * reachable RDDs, shuffles and broadcasts held; the second collects it.
    */
  def heapRetainedMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getType == MemoryType.HEAP && p.getName.contains("Old Gen"))
      .getOrElse(throw new IllegalStateException("no old-generation heap pool"))
    Option(old.getCollectionUsage).getOrElse(old.getUsage).getUsed / 1048576.0
  }

  final case class SetupTimes(session: Double, generate: Double, warmup: Double) {
    def total: Double = session + generate + warmup
  }

  final case class Result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)])

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val result = run(o)
    result.metrics.foreach { case (n, v, u) => println(f"[perfbench] $n%-28s $v%.6f $u") }
    val metrics = result.metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
    val json = s"""{"correct": ${result.correct}, "attempted": ${result.attempted}, """ +
      s""""failed": ${result.failed}, "metrics": {${metrics.mkString(", ")}}}"""
    java.nio.file.Files.write(new File(o.out).toPath, (json + "\n").getBytes(UTF_8))
  }

  def run(o: Options): Result = {
    val w = workload(o)
    val warehouse = new File(s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
    var attempted = 0
    var failed = 0
    var spark: SparkSession = null

    val setups = (1 to Setups).map { i =>
      if (spark != null) {
        spark.stop()
        Disk.deleteRecursively(new File(s"${o.work}/setup${i - 1}"))
        Disk.deleteRecursively(warehouse)
      }
      val t0 = System.nanoTime()
      spark = GraftSession.get("perfbench", o.cores)
      val t1 = System.nanoTime()
      w.prepare(spark, s"${o.work}/setup$i")
      val t2 = System.nanoTime()
      val (warmRan, warmFailed) = w.warmup(spark, first = i == 1)
      val t3 = System.nanoTime()
      attempted += warmRan
      failed += warmFailed
      val times = SetupTimes((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
      System.err.println(s"[perfbench] setup $i: $times")
      times
    }
    val sc = spark.sparkContext

    def recheck(): Checked = {
      val c = w.recheck(spark)
      attempted += c.attempted
      failed += c.failed
      c
    }

    val passWalls = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val passOps = mutable.ArrayBuffer.empty[Seq[Double]]
    val ops = mutable.ArrayBuffer.empty[OpTime]
    def untracedPass(): (Double, StatusStore.Totals) = {
      val before = StatusStore.lastJobId(sc)
      val p = w.pass(spark)
      val totals = StatusStore.totalsAfter(sc, before)
      passWalls += p.map(_.seconds).sum
      passCpu += totals.cpuNs / 1e9
      passOps += p.map(_.seconds)
      ops ++= p
      (passWalls.last, totals)
    }

    val metrics =
      if (!o.trace) {
        val t0 = System.nanoTime()
        val passes = timedPasses(o.seconds, w)
        while (passWalls.size < passes && (System.nanoTime() - t0) / 1e9 < MaxStretch * o.seconds)
          untracedPass()
        val heap = heapRetainedMb()
        recheck()
        System.err.println(ops.map(o => f"${o.name}=${o.seconds}%.3f").mkString("[perfbench] ops ", " ", ""))
        System.err.println(passCpu.map(c => f"$c%.3f").mkString("[perfbench] pass task cpu ", " ", ""))
        val wall = Stats.typicalPass(passOps.toSeq)
        val tail = Stats.tail(ops.map(_.seconds).toSeq)
        println(f"[perfbench] op_tail_s is p${tail.pct}%s of ${ops.size} operations, ${tail.beyond} beyond it")
        val values = Map(
          "setup_s" -> Stats.median(setups.map(_.total)),
          "wall_s" -> wall,
          "op_p50_s" -> Stats.percentile(ops.map(_.seconds).toSeq, 50),
          "op_tail_s" -> tail.value,
          "rows_per_s" -> w.inputRowsPerPass / wall,
          "cpu_s" -> Stats.median(passCpu.toSeq),
          "heap_retained_mb" -> heap)
        EndToEnd.map { case (n, u) => (n, values(n), u) }
      } else {
        val layers = tracedLayers(o, w, spark, setups, () => untracedPass(), () => recheck())
        attempted += layers.attempted
        failed += layers.failed
        PerLayer.map { case (n, u) => (n, layers.values.getOrElse(n, 0.0), u) }
      }
    attempted += ops.size
    failed += ops.count(!_.ok)
    spark.stop()
    Result(failed == 0, attempted, failed, metrics)
  }

  final case class Layers(values: Map[String, Double], attempted: Int, failed: Int)

  /** Untraced and traced passes in turn, half of [[timedPasses]] (at least
    * two) of each, then `recheck`. Per-layer figures are means per traced
    * pass. Passes still speed up as the JIT warms, so pairs alternate their
    * order (untraced, traced, traced, untraced, ...) and the trend cancels
    * out of the tracing overhead.
    */
  def tracedLayers(o: Options, w: Workload, spark: SparkSession, setups: Seq[SetupTimes],
      untracedPass: () => (Double, StatusStore.Totals), recheck: () => Checked): Layers = {
    val tracer = new Tracer(spark)
    val sums = new LayerSums
    val untraced = mutable.ArrayBuffer.empty[(Double, StatusStore.Totals)]
    val passes = mutable.ArrayBuffer.empty[Seq[OpTime]]
    val t0 = System.nanoTime()
    def traced(): Unit = {
      tracer.attach()
      try passes += w.tracedPass(spark, tracer, sums)
      finally tracer.detach()
    }
    val pairs = math.max(2, timedPasses(o.seconds, w) / 2)
    while (passes.isEmpty || (passes.size < pairs && (System.nanoTime() - t0) / 1e9 < MaxStretch * o.seconds)) {
      if (passes.size % 2 == 0) { untraced += untracedPass(); traced() }
      else { traced(); untraced += untracedPass() }
    }
    val spans = tracer.closed
    tracer.writeSpans(new File(s"${o.work}/spans-${w.name}.jsonl").toPath)
    val checked = recheck()

    val n = passes.size.toDouble
    val selfNs = Span.selfNanos(spans)
    val self = Span.selfByName(spans)
    def selfS(name: String): Double = self.getOrElse(name, 0L) / 1e9 / n
    def under(name: String): Set[Int] =
      spans.filter(_.name == name).map(_.id).toSet.flatMap(Span.subtree(spans, _))
    // Every traced operation is one root span.
    val roots = spans.filter(_.parent < 0)
    val all = tracer.jobsIn(spans.map(_.id).toSet)
    val inside = roots.map(s => tracer.insideExecutions(s.start, s.end)).sum / 1e9
    val phases = roots.flatMap(s => tracer.phaseMs(s.start, s.end)).groupMapReduce(_._1)(_._2)(_ + _)
    // Each operation is timed by its own clock, outside its root span. The
    // root span's self time is the part of the operation no layer span
    // covers, such as a public call left without a span.
    val opWall = passes.flatten.map(_.seconds).sum
    val tracedWall = opWall / n
    val gap = roots.map(s => selfNs(s.id)).sum / 1e9
    val layerSelf = spans.filter(_.parent >= 0).map(s => selfNs(s.id)).sum / 1e9
    val closure = (opWall - layerSelf) / opWall
    var failed = passes.flatten.count(!_.ok)
    if (closure > ClosureTolerance) {
      System.err.println(f"[perfbench] layer spans leave ${closure * 100}%.2f%% of the traced wall time uncovered")
      failed += 1
    }
    val tracedJobs = all.size / n
    val untracedJobs = untraced.map(_._2.jobs).sum / untraced.size.toDouble
    if (w.isInstanceOf[EtlWorkload] && tracedJobs != untracedJobs) {
      System.err.println(s"[perfbench] traced rebuild ran $tracedJobs jobs per pass, App.run $untracedJobs")
      failed += 1
    }
    val untracedWall = Stats.median(untraced.map(_._1).toSeq)
    val tracedMedian = Stats.median(passes.map(_.map(_.seconds).sum).toSeq)
    val jdbcS = selfS("sinks.jdbc")
    val jdbcRows = sums.values.getOrElse("sinks.jdbc_rows", 0.0) / n
    val (files, bytes) = w.inputFiles
    val taskRun = all.map(_.runMs).sum / 1000.0 / n
    val setupMedian = (f: SetupTimes => Double) => Stats.median(setups.map(f))
    val values = sums.values.map { case (k, v) => k -> v / n }.toMap ++
      checked.rowsOut.map(r => "pipeline.rows_out" -> r.toDouble) ++ Map(
      "session.start_s" -> setupMedian(_.session),
      "setup.generate_s" -> setupMedian(_.generate),
      "setup.warmup_s" -> setupMedian(_.warmup),
      "sources.read_s" -> selfS("sources.read"),
      "sources.read_jobs" -> tracer.jobsIn(under("sources.read")).size / n,
      "sources.files" -> files.toDouble,
      "sources.input_bytes" -> bytes.toDouble,
      "pipeline.rows_in" -> all.map(_.inputRecords).sum / n,
      "pipeline.shuffle_write_bytes" -> tracer.jobsIn(under("etl.job")).map(_.shuffleWriteBytes).sum / n,
      "sinks.csv_full_s" -> selfS("sinks.csv_full"),
      "sinks.csv_long_s" -> selfS("sinks.csv_long"),
      "sinks.jdbc_s" -> jdbcS,
      "sinks.jdbc_rows_per_s" -> (if (jdbcS > 0 && jdbcRows > 0) jdbcRows / jdbcS else 0.0),
      "sinks.jdbc_tasks" -> tracer.jobsIn(under("sinks.jdbc")).map(_.tasks).sum / n,
      "queries.build_s" -> selfS("queries.build"),
      "queries.build_jobs" -> tracer.jobsIn(under("queries.build")).size / n,
      "queries.outside_qe_s" -> (tracedWall - inside / n),
      "queries.phase_build_s" -> selfS("queries.phase"),
      "queries.phase_output_bytes" -> tracer.jobsIn(under("queries.phase")).map(_.outputBytes).sum / n,
      "plans.analysis_s" -> phases.getOrElse("analysis", 0L) / 1000.0 / n,
      "plans.optimization_s" -> phases.getOrElse("optimization", 0L) / 1000.0 / n,
      "plans.planning_s" -> phases.getOrElse("planning", 0L) / 1000.0 / n,
      "operators.exec_s" -> inside / n,
      "operators.jobs" -> tracedJobs,
      "operators.stages" -> all.map(_.stages).sum / n,
      "operators.tasks" -> all.map(_.tasks).sum / n,
      "operators.task_run_s" -> taskRun,
      "operators.task_cpu_s" -> all.map(_.cpuNs).sum / 1e9 / n,
      "operators.gc_s" -> all.map(_.gcMs).sum / 1000.0 / n,
      "operators.core_busy" -> taskRun / (o.cores * tracedWall),
      "operators.shuffle_write_bytes" -> all.map(_.shuffleWriteBytes).sum / n,
      "operators.shuffle_read_bytes" -> all.map(_.shuffleReadBytes).sum / n,
      "operators.spill_bytes" -> all.map(_.spillBytes).sum / n,
      "trace.untraced_wall_s" -> untracedWall,
      "trace.traced_wall_s" -> tracedMedian,
      "trace.overhead_s" -> (tracedMedian - untracedWall),
      "trace.untraced_gap_s" -> gap / n,
      "trace.closure_error" -> closure,
      "trace.untraced_jobs" -> untracedJobs,
      "trace.traced_jobs" -> tracedJobs)
    Layers(values, passes.flatten.size, failed)
  }
}

/** The expected registry fingerprints: one `line<TAB>fingerprint` per line. */
object Fingerprints {
  def read(path: String): Map[String, String] =
    scala.util.Using.resource(scala.io.Source.fromFile(path, "UTF-8")) { src =>
      src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap
    }
}

/** Writes the registry fingerprints of a fixture copy, after checking that
  * two passes over two fresh copies agree.
  *
  * Usage: `RecordFingerprints <fixtureDir> <workDir> <outFile> <cores>`
  */
object RecordFingerprints {
  def main(args: Array[String]): Unit = {
    val Array(fixture, work, out, cores) = args
    val spark = GraftSession.get("perfbench", cores.toInt)
    val runs = (1 to 2).map { i =>
      val w = new RegistryWorkload("registry_mix", fixture, 0L, Map.empty)
      w.prepare(spark, s"$work/record$i")
      w.fingerprints(spark)._1
    }
    spark.stop()
    require(runs(0) == runs(1), s"fingerprints differ between passes: ${runs(0)} vs ${runs(1)}")
    val lines = Registry.checkedLines.map(l => s"$l\t${runs(0)(l)}")
    java.nio.file.Files.write(new File(out).toPath,
      ("# registry line<TAB>row count:sum of xxhash64 over to_json(row)\n" + lines.mkString("", "\n", "\n"))
        .getBytes(UTF_8))
  }
}

/** Fingerprints the Parquet outputs `graft.Verify` wrote for the registry
  * lines and compares them with the expected file, so the expected
  * fingerprints can be tied to the outputs `tools/check_oracle.py` checks
  * against DuckDB.
  *
  * Usage: `CrossCheck <expectedFile> <cores> <verifyOutDir>...`
  */
object CrossCheck {
  def main(args: Array[String]): Unit = {
    val expected = Fingerprints.read(args(0))
    val spark = GraftSession.get("perfbench", args(1).toInt)
    val results = for {
      out <- args.drop(2).toSeq
      (line, fp) <- expected.toSeq.sorted
      dir = new File(out, line) if dir.isDirectory
    } yield {
      val got = Registry.fingerprint(spark.read.parquet(dir.getPath))
      println(s"$line ${if (got == fp) "match" else s"MISMATCH $got, expected $fp"}")
      got == fp
    }
    spark.stop()
    println(s"${results.count(identity)}/${results.size} fingerprints match")
  }
}
