package graft

import java.nio.file.Files
import java.sql.{DriverManager, SQLException}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.io.Source
import scala.util.Using

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{TraceConfig, TracePipeline}

/** End-to-end application-driver spec (t1-style smoke over a synthesized
  * trace input — FIXTURES.md §B): config validation (O18, numeric env
  * values), run-versioned CSV fan-out (O12-O13, O20), schema union across
  * heterogeneous files, the JDBC sink alongside the CSVs (O14-O17) and its
  * failure path, the per-write file cap (O9), and the job count of a large
  * glob read.
  */
class AppSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Two heterogeneous files: `a` (100 rows, 40 kept, 26 long) and `b`
    * (10 rows, all kept and long, 3000 ms each); 50 kept rows in all,
    * `duration_ms` summing to 148000.
    */
  def writeInput(): String = {
    val in = Files.createTempDirectory("app_in").toString
    (0L until 100L).map(i => (i * 1_000_000_000L, i * 1_000_000_000L + (i % 40) * 100_000_000L, s"op$i"))
      .toDF("start_time", "end_time", "op")
      .coalesce(1).write.parquet(s"$in/a.parquet")
    (0L until 10L).map(i => (0L, 3_000_000_000L + i, i))
      .toDF("start_time", "end_time", "extra")
      .coalesce(1).write.parquet(s"$in/b.parquet")
    in
  }

  def csvRows(dir: String): Long = spark.read.option("header", "true").csv(dir).count()

  /** Jobs `body` launches on this thread, counted by a listener. A marker
    * job run after `body` drains the listener queue before the count.
    */
  def jobsLaunchedBy(body: => Unit): Int = {
    val group = s"appspec-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val markerId = new AtomicInteger(-1)
    val markerDone = new CountDownLatch(1)
    val sc = spark.sparkContext
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-marker" => markerId.set(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerId.get) markerDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerDone.await(60, TimeUnit.SECONDS), "listener never saw the marker job end")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("no sink selected is a startup error (O18)") {
    val e = intercept[IllegalArgumentException] {
      App.configFromEnv(Map.empty, "in", "out")
    }
    assert(e.getMessage.contains("No sink selected"))
  }

  test("zero matching input files is a clean no-op run, not a crash (reference parity)") {
    val out = Files.createTempDirectory("app_empty").toString
    val cfg = App.configFromEnv(
      Map("WRITE_CSV" -> "1", "GRAFT_RUN_ID" -> "empty-run"),
      "/tmp/definitely_not_here_graft/*.parquet", out)
    val outDir = App.run(spark, cfg) // must not throw
    assert(outDir == s"$out/empty-run")
    assert(!new java.io.File(s"$outDir/full").exists()) // no sinks ran
  }

  test("full pipeline: heterogeneous input -> versioned CSV fan-out with thresholds honored") {
    val in = writeInput()
    val out = Files.createTempDirectory("app_out").toString
    val cfg = App.configFromEnv(
      Map("WRITE_CSV" -> "1", "GRAFT_RUN_ID" -> "spec-run"),
      s"$in/*.parquet", out)
    val outDir = App.run(spark, cfg)
    assert(outDir == s"$out/spec-run") // O20

    val full = spark.read.option("header", "true").csv(s"$outDir/full")
    val long = spark.read.option("header", "true").csv(s"$outDir/long")
    // file a durations: (i%40)*100ms, i in 0..99 -> >=2000ms for i%40 in
    // 20..39, which occurs for i in 20..39 and 60..79 -> 40 rows;
    // file b durations: 3000ms each, all 10 rows distinct (extra differs)
    assert(full.count() == 50)
    // long >=2650ms: a needs i%40 in 27..39 (i in 27..39, 67..79 -> 26), b all 10
    assert(long.count() == 36)
    assert(full.columns.head == "duration_ms") // O6 reorder survives the sink
    assert(full.columns.toSet == Set("duration_ms", "start_time", "end_time", "op", "extra"))
  }

  test("malformed numeric env values fail up front, naming the variable and value") {
    for (name <- Seq("GRAFT_MAX_RECORDS_PER_FILE", "GRAFT_MIN_DURATION_MS", "GRAFT_LONG_DURATION_MS")) {
      val e = intercept[IllegalArgumentException] {
        App.configFromEnv(Map("WRITE_CSV" -> "1", name -> "2s"), "in", "out")
      }
      assert(e.getMessage.contains(name) && e.getMessage.contains("'2s'"), e.getMessage)
    }
    val round = intercept[IllegalArgumentException](Env.int(Map("SPARK_GRAFT_ROUND" -> "r7"), "SPARK_GRAFT_ROUND"))
    assert(round.getMessage.contains("SPARK_GRAFT_ROUND") && round.getMessage.contains("'r7'"))
    assert(Env.int(Map("SPARK_GRAFT_ROUND" -> "23"), "SPARK_GRAFT_ROUND").contains(23))
    assert(Env.long(Map.empty, "GRAFT_MIN_DURATION_MS").isEmpty)
  }

  test("the rows-per-file cap applies per write and leaves the session conf as it was (O9)") {
    val key = "spark.sql.files.maxRecordsPerFile"
    val before = spark.conf.getOption(key)
    val out = Files.createTempDirectory("app_cap").toString
    val cfg = App.configFromEnv(
      Map("WRITE_CSV" -> "1", "GRAFT_RUN_ID" -> "cap-run", "GRAFT_MAX_RECORDS_PER_FILE" -> "7"),
      s"${writeInput()}/*.parquet", out)
    val outDir = App.run(spark, cfg)
    assert(spark.conf.getOption(key) == before)
    assert(csvRows(s"$outDir/full") == 50)
    val fullFiles = new java.io.File(s"$outDir/full").listFiles().filter(_.getName.endsWith(".csv"))
    assert(fullFiles.length >= 8) // 50 rows at <= 7 per file
    assert(fullFiles.forall(f => Using.resource(Source.fromFile(f))(_.getLines().size) <= 8)) // header + 7
  }

  test("CSV and JDBC sinks together: both CSVs and the Derby table hold the kept rows") {
    val out = Files.createTempDirectory("app_jdbc").toString
    val url = "jdbc:derby:memory:appspec_sinks;create=true"
    val cfg = App.configFromEnv(
      Map("WRITE_CSV" -> "1", "WRITE_SQLITE" -> "1", "GRAFT_RUN_ID" -> "jdbc-run",
        "GRAFT_JDBC_URL" -> url, "GRAFT_JDBC_TABLE" -> "trace"),
      s"${writeInput()}/*.parquet", out)
    val outDir = App.run(spark, cfg)
    assert(csvRows(s"$outDir/full") == 50)
    assert(csvRows(s"$outDir/long") == 36)
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        """SELECT COUNT(*), SUM("duration_ms"), COUNT(DISTINCT "UID") FROM trace""")
      assert(rs.next())
      assert((rs.getLong(1), rs.getLong(2), rs.getLong(3)) == ((50L, 148000L, 50L)))
    } finally conn.close()
  }

  test("a failing JDBC sink fails the run only after the CSV sinks finish, and releases the cache") {
    val out = Files.createTempDirectory("app_jdbc_fail").toString
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val cfg = App.configFromEnv(
      Map("WRITE_CSV" -> "1", "WRITE_SQLITE" -> "1", "GRAFT_RUN_ID" -> "fail-run",
        "GRAFT_JDBC_URL" -> "jdbc:derby:memory:appspec_absent"), // no create=true
      s"${writeInput()}/*.parquet", out)
    val e = intercept[SQLException](App.run(spark, cfg))
    assert(e.getMessage.contains("appspec_absent"), e.getMessage)
    val outDir = s"$out/fail-run"
    assert(new java.io.File(s"$outDir/long/_SUCCESS").exists()) // long CSV done before the throw
    assert(csvRows(s"$outDir/full") == 50)
    assert(csvRows(s"$outDir/long") == 36)
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore)
  }

  test("reading a glob of more than 32 files runs one job (the footer merge), no listing job") {
    val dir = Files.createTempDirectory("app_glob").toString
    spark.range(0, 40, 1, 40).selectExpr("id AS start_time", "id + 3000000000 AS end_time")
      .write.mode("overwrite").parquet(s"$dir/in")
    val glob = s"$dir/in/*.parquet"
    assert(new java.io.File(s"$dir/in").listFiles().count(_.getName.endsWith(".parquet")) == 40)
    assert(jobsLaunchedBy(TracePipeline.read(spark, TraceConfig(glob))) == 1)
  }
}
