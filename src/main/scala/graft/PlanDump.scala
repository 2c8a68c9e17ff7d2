package graft

import java.nio.file.{Files, Paths}

/** Optimization-round evidence tool: write `.explain("formatted")` for
  * named registry queries to `<outDir>/<name>_<tag>.txt` — the
  * before/after plan artifacts the round deliverables require
  * (`plans/r<N>/<query>_{before,after}.txt`). Usage:
  *
  *   sbt "runMain graft.PlanDump <sfDir> <outDir> <tag> <q1,q2,...>"
  *
  * Plans under the bench's own session (`GraftSession`, `SPARK_GRAFT_CPUS`,
  * default 32); pure planning — nothing executes, nothing is written
  * besides the text files.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, names) = args.take(4)
    val cpus = Env.int(sys.env, "SPARK_GRAFT_CPUS").getOrElse(32)
    val spark = GraftSession.get("plandump", cpus)
    Files.createDirectories(Paths.get(outDir))
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${n}_$tag.txt"), txt)
        System.err.println(s"[plandump] wrote $outDir/${n}_$tag.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n FAILED: $e")
      }
    }
    spark.stop()
  }
}
