package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** A seeded Parquet corpus shaped like the reference job's trace input, and
  * the results the job must produce on it, computed here row by row
  * without the engine's pipeline.
  *
  * The corpus has three column sets, one per file in turn; each set has a
  * column the other two lack, and that column is never null, so two rows of
  * different sets never collide after the schema union. Durations straddle
  * both thresholds and the sub-millisecond remainders of start and end are
  * independent, so `(e - s) div 1e6` and `e div 1e6 - s div 1e6` often
  * differ. A share of rows repeats an earlier row of the same file exactly,
  * and zeros and empty strings appear in every set.
  */
object TraceCorpus {

  final case class Spec(files: Int, rowsPerFile: Int, seed: Long) {
    def rows: Long = files.toLong * rowsPerFile
  }

  /** What the reference job must write for a corpus. */
  final case class Expected(
      fullRows: Long,
      fullDurationSum: Long,
      longRows: Long,
      longDurationSum: Long,
      columns: Set[String])

  val MinDurationMs = 2000L
  val LongDurationMs = 2650L
  val DuplicateShare = 0.05

  private val common = Seq(
    StructField("start_time", LongType, nullable = false),
    StructField("end_time", LongType, nullable = false),
    StructField("service", StringType))

  /** The three column sets; file `f` uses set `f % 3`. */
  val schemas: IndexedSeq[StructType] = IndexedSeq(
    StructType(common ++ Seq(
      StructField("status", IntegerType, nullable = false),
      StructField("tag", StringType))),
    StructType(common ++ Seq(
      StructField("duration", LongType),
      StructField("host", StringType, nullable = false))),
    StructType(common ++ Seq(
      StructField("_timestamp", LongType),
      StructField("region", StringType, nullable = false),
      StructField("attempt", IntegerType))))

  val columns: Set[String] = schemas.flatMap(_.fieldNames).toSet

  private val services = IndexedSeq("api", "auth", "db", "cache", "queue", "search", "")
  private val regions = IndexedSeq("eu-west", "us-east", "ap-south", "")

  private def fileRandom(seed: Long, file: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + file)

  /** Duration in nanoseconds: a third below the keep threshold, a third
    * between the thresholds, a third above both, and a few exact zeros.
    */
  private def durationNs(r: SplittableRandom): Long = r.nextInt(100) match {
    case k if k < 2 => 0L
    case k if k < 34 => r.nextLong(0L, MinDurationMs * 1000000L)
    case k if k < 67 => r.nextLong(MinDurationMs * 1000000L - 999999L, LongDurationMs * 1000000L + 999999L)
    case _ => r.nextLong(LongDurationMs * 1000000L - 999999L, 6000L * 1000000L)
  }

  /** The rows of file `file`, in order. */
  def fileRows(spec: Spec, file: Int): IndexedSeq[Row] = {
    val r = fileRandom(spec.seed, file)
    val out = mutable.ArrayBuffer.empty[Row]
    val base = 1700000000000000000L + file * 3600L * 1000000000L
    for (i <- 0 until spec.rowsPerFile) {
      if (i > 0 && r.nextDouble() < DuplicateShare) out += out(r.nextInt(out.size))
      else {
        val start = base + r.nextLong(0L, 3600L * 1000000000L)
        val d = durationNs(r)
        val end = start + d
        val service = services(r.nextInt(services.size))
        out += (file % 3 match {
          case 0 =>
            Row(start, end, service, r.nextInt(4) * 100, if (r.nextInt(5) == 0) "" else s"t${r.nextInt(50)}")
          case 1 =>
            Row(start, end, if (r.nextInt(20) == 0) null else service,
              if (r.nextInt(10) == 0) 0L else d, s"h${r.nextInt(16)}")
          case _ =>
            Row(start, end, service, if (r.nextInt(10) == 0) null else start / 1000L,
              regions(r.nextInt(regions.size)), r.nextInt(3))
        })
      }
    }
    out.toIndexedSeq
  }

  private def parquetType(f: StructField): String = {
    val rep = if (f.nullable) "optional" else "required"
    f.dataType match {
      case LongType => s"$rep int64 ${f.name};"
      case IntegerType => s"$rep int32 ${f.name};"
      case StringType => s"$rep binary ${f.name} (STRING);"
      case t => throw new IllegalArgumentException(s"no Parquet mapping for $t")
    }
  }

  /** Writes the corpus as `dir/set<k>/part-<file>.parquet`, one Parquet
    * file per corpus file, and returns the input glob.
    */
  def write(spec: Spec, dir: String): String = {
    val conf = new Configuration()
    for (f <- 0 until spec.files) {
      val schema = schemas(f % 3)
      val message = MessageTypeParser.parseMessageType(
        schema.fields.map(parquetType).mkString(s"message set${f % 3} { ", " ", " }"))
      val path = new Path(f"$dir/set${f % 3}/part-$f%05d.parquet")
      val writer = ExampleParquetWriter.builder(path).withType(message).withConf(conf)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try fileRows(spec, f).foreach { row =>
        val g = new SimpleGroup(message)
        schema.fields.indices.foreach { i =>
          row.get(i) match {
            case null =>
            case v: java.lang.Long => g.add(i, v.longValue)
            case v: java.lang.Integer => g.add(i, v.intValue)
            case v: String => g.add(i, v)
          }
        }
        writer.write(g)
      } finally writer.close()
    }
    s"$dir/set*/*.parquet"
  }

  /** The reference job's results, computed from the generated rows: per-
    * operand truncated duration, keep filter, value dedup over the
    * union schema, long slice.
    */
  def expected(spec: Spec): Expected = {
    val kept = mutable.HashMap.empty[(Int, Row), Long]
    for (f <- 0 until spec.files; row <- fileRows(spec, f)) {
      val ms = row.getLong(1) / 1000000L - row.getLong(0) / 1000000L
      if (ms >= MinDurationMs) kept((f % 3, row)) = ms
    }
    val longs = kept.values.filter(_ >= LongDurationMs)
    Expected(kept.size, kept.values.sum, longs.size, longs.sum, columns + "duration_ms")
  }
}
