package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.{TraceConfig, TracePipeline}

/** CSV fan-out sinks (SURVEY.md §2 O12-O13).
  *
  * The reference writes two CSVs per run under `output/<runTs>/`: the full
  * processed set and a "long records" slice (`duration_ms >= 2650`,
  * main.js:225-255). Its literal code crashes (`writeTimestamp` undeclared —
  * B5, SURVEY.md §2.10); we implement the intent. Spark CSV cannot encode
  * arrays/maps/structs, so complex columns are serialized with `to_json`
  * first — the reference would have JSON.stringify'd them the same way
  * (main.js:117).
  *
  * Scale note: both sinks share one upstream plan. Callers persist the
  * transformed DataFrame once and run the two (cheap, filter-only) writes
  * against it, so the scan/dedup work is not recomputed per sink — the Spark
  * replacement for the reference's in-memory `recordsToWrite` barrier
  * (main.js:51,208-213). `graft.App` runs the full write first (it fills
  * the cache), then the long slice.
  */
object CsvSinks {

  /** CSV cannot carry nested types: serialize arrays/maps/structs to JSON
    * strings, leave scalars untouched.
    */
  def flattenForCsv(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: ArrayType | _: MapType | _: StructType => to_json(col(f.name)).as(f.name)
        case _ => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** O12: full CSV with header. `maxRecordsPerFile` caps rows per output
    * file for this write only (O9); without it the session's
    * `spark.sql.files.maxRecordsPerFile` applies.
    */
  def writeFull(df: DataFrame, outDir: String, maxRecordsPerFile: Option[Long] = None): Unit = {
    val writer = flattenForCsv(df).write
      .mode(SaveMode.Overwrite)
      .option("header", "true")
    maxRecordsPerFile.fold(writer)(n => writer.option("maxRecordsPerFile", n)).csv(outDir)
  }

  /** O13: the "long records" slice — second sink over the same plan. */
  def writeLongSlice(
      df: DataFrame,
      cfg: TraceConfig,
      outDir: String,
      maxRecordsPerFile: Option[Long] = None): Unit =
    writeFull(TracePipeline.longSlice(df, cfg), outDir, maxRecordsPerFile)
}
