package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry
import graft.queries.DupGraphPhases

/** The registry mix: a fixed list of registry lines and amortized builds
  * over the fixture copy in `data/sf0.01`.
  */
object Registry {

  /** One timed call. `line` steps run a registry line into the `noop` sink;
    * `phase` steps call a build (or a build's probe) directly.
    */
  final case class Step(name: String, kind: String, run: (SparkSession, String) => Unit)

  /** An independent unit of the pass; a build and its probes stay together. */
  final case class Group(steps: Seq[Step])

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def line(name: String): Step =
    Step(name, "line", (spark, dir) => noop(SparkEntry.queries(name)(spark, dir)))

  /** Short lines, bound by driver work and job count: four that ran under
    * 0.2 s at r22, and q203, which launches 13 jobs in about 0.6 s.
    */
  val shortLines: Seq[String] = Seq(
    "q02_derive_div", "q14_sort_limit", "q203_bpe_batched", "q38_hash_split", "q50_token_count")

  /** Execution-heavy work: the dup-graph build (signature mine, band join,
    * bucketed table write), called through its non-memo entry point so every
    * pass repeats it, with its probe.
    */
  val heavyGroups: Seq[Group] = Seq(
    Group(Seq(
      Step("DupGraphPhases.build", "phase", (s, d) => DupGraphPhases.build(s, d)),
      line("q102_split_leakage"))))

  val groups: Seq[Group] = shortLines.map(n => Group(Seq(line(n)))) ++ heavyGroups

  /** The lines whose results are fingerprinted, in list order. */
  def checkedLines: Seq[String] = groups.flatMap(_.steps).filter(_.kind == "line").map(_.name)

  /** The pass order for a seed: units shuffled, steps within a unit kept. */
  def order(seed: Long): Seq[Step] = new scala.util.Random(seed).shuffle(groups).flatMap(_.steps)

  /** Row count plus an order-independent sum of per-row hashes. Each row
    * is rendered as JSON over positional column names, so a null never
    * hashes like a value in a neighbouring column.
    */
  def fingerprint(df: DataFrame): String = {
    val positional = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(to_json(struct(positional.columns.toIndexedSeq.map(col): _*)))
    val r = positional.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0).cast(DecimalType(38, 0))))
      .head()
    s"${r.getLong(0)}:${r.getDecimal(1).toPlainString}"
  }

  /** Total rows of the Parquet files in `dir`, read from their footers. */
  def footerRows(dir: String): Long =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath), new org.apache.hadoop.conf.Configuration())
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getRecordCount finally reader.close()
    }.sum
}
