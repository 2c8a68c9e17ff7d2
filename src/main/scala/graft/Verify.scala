package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional 3rd arg (local iteration only; the driver passes two): run
    // only queries whose name contains the substring.
    val filtered = args.length > 2
    val only: String => Boolean =
      args.drop(2).headOption.map(s => (n: String) => n.contains(s))
        .getOrElse(_ => true)
    // Foot-gun guard: a filtered run into an outDir that already holds a
    // full run would shrink oracle_sql.json in place, and a later
    // check_oracle over that dir would silently verify only the subset.
    if (filtered && Files.exists(Paths.get(s"$outDir/oracle_sql.json"))) {
      System.err.println(
        s"[verify] refusing filtered run into $outDir: oracle_sql.json " +
          "already exists (use a fresh outDir for subset runs)")
      sys.exit(2)
    }
    val cpus = Env.int(sys.env, "SPARK_GRAFT_CPUS").getOrElse(4)
    val spark = GraftSession.get("verify", cpus)
    new java.io.File(outDir).mkdirs()
    // A failed query must leave a VISIBLE artifact, not a silent absence:
    // round 12 lost 14 broken queries from CORRECTNESS because the catch
    // below only wrote to stderr and the output dir simply lacked their
    // rows. failed.json (name -> error) gives every declared query a
    // durable verdict; the summary line makes a broken run unmistakable.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[verify] $name FAILED: $msg")
        failures(name) = msg
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => only(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failedJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failed.json"), failedJson)
    val total = SparkEntry.queries.count(kv => only(kv._1))
    System.err.println(
      s"[verify] ${total - failures.size}/$total queries dumped, ${failures.size} FAILED" +
        (if (failures.isEmpty) "" else s": ${failures.keys.mkString(", ")}"))
    spark.stop()
  }
}
