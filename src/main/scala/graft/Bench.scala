package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.queries.Phase

/** Benchmark main (driver contract): times every bench line against
  * `SPARK_GRAFT_SF_DIR` and prints ONE bounded JSON line on stdout.
  *
  * Lines: each registry query contributes its family's declared lines
  * ([[graft.queries.Q.benchLines]] — amortized builds, comparators and the
  * query itself), in query-name order. `SPARK_GRAFT_ONLY=q1,q2` keeps only
  * the named registry queries, each with its whole family.
  *
  * Timing rule (`"protocol":"median3"`): after a warm-up, the ordered line
  * list runs in 3 interleaved passes and each line reports the median of
  * its 3 wall times. A run executes the line's frame to completion through
  * the `noop` sink — unlike `count()`, noop cannot let Catalyst prune the
  * projected columns. A line with any failed run reports -1 and is listed
  * in `failed`. A line is listed in `regressed_vs_prev` when its median is
  * more than 1.5x its value in the latest median3 snapshot under
  * `bench_full/` recorded at the same sf and cpus.
  */
object Bench {
  val Protocol = "median3"
  val Passes = 3
  val RegressionRatio = 1.5

  /** The ordered bench lines; `only` filters by registry query name. */
  def lines(only: Option[Set[String]]): Seq[Phase] =
    SparkEntry.registry.filter(q => only.forall(_(q.name)))
      .sortBy(_.name).flatMap(_.benchLines)

  /** Median of a line's runs, or -1 when any run failed. */
  def median(runs: Seq[Double]): Double =
    if (runs.exists(_ < 0)) -1.0 else runs.sorted.apply(runs.size / 2)

  /** Lines whose median exceeds `RegressionRatio` x the previous value. */
  def regressed(medians: Seq[(String, Double)], prev: Map[String, Double]): Seq[String] =
    medians.collect {
      case (k, v) if v >= 0 && prev.get(k).exists(p => p > 0 && v > RegressionRatio * p) => k
    }

  private val SnapshotName = "r(\\d+)(?:_cpu\\d+)?(?:_(\\d+))?\\.json".r

  /** The latest median3 snapshot in `dir` recorded at `sf` and `cpus`:
    * its file name and per-line medians. Snapshots of older protocols
    * never match.
    */
  def previousSnapshot(dir: Path, sf: String, cpus: Int): Option[(String, Map[String, Double])] = {
    val files = try Files.list(dir).iterator().asScala.toList
      catch { case _: java.io.IOException => Nil }
    files
      .flatMap { p =>
        p.getFileName.toString match {
          case SnapshotName(r, k) => Some((r.toInt, Option(k).fold(0)(_.toInt), p))
          case _ => None
        }
      }
      .sortBy { case (r, k, _) => (-r, -k) }.iterator
      .map { case (_, _, p) => p.getFileName.toString -> Files.readString(p) }
      .collectFirst {
        case (name, txt) if txt.contains(s""""protocol":"$Protocol"""") &&
            txt.contains(s""""cpus":$cpus,""") && txt.contains(s""""sf":${jsonString(sf)}""") =>
          name -> medians(txt)
      }
  }

  /** The `"queries"` map of a snapshot line written by this object. */
  def medians(line: String): Map[String, Double] =
    "\"queries\":\\{([^}]*)\\}".r.findFirstMatchIn(line).toSeq
      .flatMap(m => "\"([^\"]+)\":(-?[0-9.]+)".r.findAllMatchIn(m.group(1)))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Parsed before the session starts, so a malformed value fails fast.
    val cpus = Env.int(sys.env, "SPARK_GRAFT_CPUS").getOrElse(32)
    val roundOverride = Env.int(sys.env, "SPARK_GRAFT_ROUND")
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.get("bench", cpus)
    warmUp(spark, sfDir)

    val todo = lines(only)
    val runs = (1 to Passes).map(_ => todo.map(timeOne(spark, sfDir, _)))
    val results = todo.indices.map(i => todo(i).name -> median(runs.map(_(i))))
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.collect { case (k, v) if v < 0 => k }
    val prev = previousSnapshot(Paths.get("bench_full"), sfDir, cpus)
    val flagged = regressed(results, prev.fold(Map.empty[String, Double])(_._2))
    val zorder = zorderMetrics(spark, sfDir)

    // This round's number: max driver-written BENCH_r*.json + 1, unless
    // SPARK_GRAFT_ROUND overrides it.
    val thisRound: Int = roundOverride.getOrElse(
      Files.list(Paths.get(".")).iterator().asScala
        .flatMap(p => "BENCH_r(\\d+)\\.json".r.findFirstMatchIn(p.getFileName.toString))
        .map(_.group(1).toInt).foldLeft(0)(math.max) + 1)

    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => s"${jsonString(k)}:$v" }.mkString("{", ",", "}")
    def arr(xs: Seq[String]): String = xs.map(jsonString).mkString("[", ",", "]")
    def line(queries: Seq[(String, Double)], extra: String): String = {
      val onlyTag = if (only.isDefined) "\"only\":true," else ""
      s"""{$onlyTag"protocol":"$Protocol","round":$thisRound,"cpus":$cpus,""" +
        s""""metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""queries":${obj(queries.map { case (k, v) => k -> fmt(v) })},$extra""" +
        s""""failed":${arr(failed)},"regressed_vs_prev":${arr(flagged)},""" +
        s""""prev":${prev.fold("null")(p => jsonString(p._1))}$zorder,"sf":${jsonString(sfDir)}}"""
    }
    // The full record carries every median and its raw runs; it goes to a
    // file and to stderr BEFORE the stdout line, so a combined-stream tail
    // capture always ends with the parseable stdout line.
    val runsJson = obj(todo.indices.map(i =>
      todo(i).name -> runs.map(r => fmt(r(i))).mkString("[", ",", "]")))
    val fullLine = line(results, s""""runs":$runsJson,""")
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get(
      if (only.isDefined) "target/bench_queries_only.json" else "target/bench_queries.json"),
      fullLine + "\n")
    // The tracked cross-round record: full runs at the canonical sf0.1
    // scale only, never overwriting an existing snapshot; runs at other
    // core counts get a _cpuN name.
    if (only.isEmpty && Paths.get(sfDir).getFileName.toString == "sf0.1") {
      Files.createDirectories(Paths.get("bench_full"))
      val stem = if (cpus == 32) s"bench_full/r$thisRound" else s"bench_full/r${thisRound}_cpu$cpus"
      val target = (Iterator.single(s"$stem.json") ++ Iterator.from(1).map(k => s"${stem}_$k.json"))
        .find(p => !Files.exists(Paths.get(p))).get
      Files.writeString(Paths.get(target), fullLine + "\n")
      System.err.println(s"[bench] full snapshot written to $target")
    }
    System.err.println(s"[bench] full per-line map: $fullLine")
    // The driver's tail capture is ~2 KB, so the stdout line carries only
    // the 12 slowest lines.
    println(line(results.sortBy(-_._2).take(12), ""))
    spark.stop()
  }

  /** One run of a line, in seconds, or -1 when it fails. */
  private def timeOne(spark: SparkSession, sfDir: String, line: Phase): Double = {
    val t0 = System.nanoTime()
    try {
      line.run(spark, sfDir).write.format("noop").mode("overwrite").save()
      // Session-hygiene barrier: build phases release their checkpoints
      // explicitly, so anything still persisted here is leaked state that
      // would degrade every later line in this long-lived session. Sweep
      // it inside the timing, so cleanup cost lands on the line that
      // leaked, in its own try so a cleanup error never discards a valid
      // measurement.
      try {
        val leaked = spark.sparkContext.getPersistentRDDs
        if (leaked.nonEmpty) {
          System.err.println(
            s"[bench] ${line.name} left ${leaked.size} persisted RDD(s) pinned — releasing")
          leaked.values.foreach(_.unpersist(blocking = false))
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] ${line.name} leak sweep failed (measurement kept): $e") }
      (System.nanoTime() - t0) / 1e9
    } catch { case e: Throwable =>
      System.err.println(s"[bench] ${line.name} failed: $e"); -1.0 }
  }

  /** Exercise scan + shuffle + codegen + window + broadcast-join paths
    * once, so the first measured lines don't absorb engine-path JIT.
    */
  private def warmUp(spark: SparkSession, sfDir: String): Unit = {
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

  /** Z-order pruning payoff at bench scale: write (user_id, event_id) once
    * z-laid-out and once sorted by the leading column only, scan both with
    * the same slab predicate on the NON-leading dimension, and report files
    * touched (files contributing >= 1 row) and scan seconds.
    */
  private def zorderMetrics(spark: SparkSession, sfDir: String): String = try {
    import org.apache.spark.sql.functions.{col, input_file_name, lit, max}
    val ev = Tables.eventsTsNs(spark, sfDir).select(col("user_id"), col("event_id"))
    val nFiles = 32
    val base = s"/tmp/graft_zbench_${graft.queries.Q.scratchTag(sfDir)}"
    val zDir = s"$base/z"
    val linDir = s"$base/lin"
    // The zOrderBy contract: dimensions must span COMPARABLE ranges (the
    // interleave is raw-bit) — scale each onto a 15-bit lattice.
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
    val bound = umax / 4
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

  /** Locale-pinned seconds ("5.123", never "5,123"); -1 for a failure. */
  private def fmt(v: Double): String =
    if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def jsonString(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
