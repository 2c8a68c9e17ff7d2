package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * The reference (`/root/reference/main.js`, see SURVEY.md §3 E1) scales by
  * giving Node a 64 GiB heap and holding the whole dataset in memory; the
  * Spark-native answer is a tuned lazy session: AQE on (runtime re-plan,
  * skew-join splitting, partition coalescing), shuffle partitions sized to
  * `cores` (NOT the 200 default, which would produce tiny shuffle files
  * locally; on a real cluster this is overridden per deployment), UTC so
  * timestamp semantics match the DuckDB oracle.
  */
object GraftSession {

  /** Defaults appropriate for the local[32] harness; every setting here is
    * also sane on a multi-executor cluster except parallelism sizing, which
    * deployments override. `local[cores]` is only a FALLBACK: when
    * spark-submit (or any caller) already supplies a master — it lands in
    * the `spark.master` system property, which `new SparkConf()` reads —
    * that master wins, so `GraftSession.get` is safe to call unchanged in
    * cluster deployments.
    */
  def builder(appName: String = "graft", cores: Int = 32): SparkSession.Builder = {
    val base = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Corrupt-input tolerance is a *semantic* of the reference pipeline
      // (main.js:122-127 skips unreadable files); see SURVEY.md §2 O3.
      // Set per-read in TracePipeline as well so it holds on foreign sessions.
      .config("spark.sql.files.ignoreCorruptFiles", "true")
      // Catalog tables (bucketing etc.) land in tmp, not the repo cwd.
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
    if (new SparkConf(true).contains("spark.master")) base
    else base
      .master(s"local[$cores]")
      // Locally, "parallel" file listing runs on threads of this JVM over
      // the same filesystem: a glob that expands to more than 32 paths
      // would start a Spark job that only adds scheduling cost. List on
      // the driver instead; a submitted master keeps Spark's default.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue.toString)
  }

  def get(appName: String = "graft", cores: Int = 32): SparkSession = {
    val spark = builder(appName, cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // A glob read makes FileStreamSink.hasMetadata probe the glob string
    // as a literal path, which logs a full FileNotFoundException stack
    // trace at WARN on every read. The probe's failure is expected.
    Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink", Level.ERROR)
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
