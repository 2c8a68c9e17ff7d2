package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class EtlCheckSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[File]
  override def afterAll(): Unit = dirs.foreach(Disk.deleteRecursively)

  private val columns = Set("duration_ms", "start_time", "end_time", "service")

  /** A CSV output dir shaped like Spark's: part files, each with a header. */
  private def outputDir(parts: Seq[String]*): String = {
    val dir = JFiles.createTempDirectory("perfbench-csv").toFile
    dirs += dir
    parts.zipWithIndex.foreach { case (rows, i) =>
      val body = ("duration_ms,start_time,end_time,service" +: rows).mkString("", "\n", "\n")
      JFiles.write(new File(dir, f"part-$i%05d.csv").toPath, body.getBytes(UTF_8))
    }
    JFiles.write(new File(dir, "_SUCCESS").toPath, Array.emptyByteArray)
    dir.getPath
  }

  private val good = Seq(
    Seq("2000,1,2000000001,api", "2650,5,2650000005,\"\""),
    Seq("3000,7,3000000007,"))

  test("a correct output passes and its totals are read back") {
    val t = Etl.checkCsv(outputDir(good: _*), columns, rows = 3, durationSum = 7650)
    assert(t.rows == 3 && t.durationSum == 7650 && t.files == 2)
  }

  test("a changed duration trips the check") {
    val corrupted = Seq(good.head.updated(0, "2001,1,2000000001,api"), good(1))
    intercept[CheckFailed](Etl.checkCsv(outputDir(corrupted: _*), columns, 3, 7650))
  }

  test("a lost row trips the check") {
    intercept[CheckFailed](Etl.checkCsv(outputDir(good.head), columns, 3, 7650))
  }

  test("an unparseable duration trips the check") {
    val corrupted = Seq(good.head, Seq("abc,7,3000000007,"))
    intercept[CheckFailed](Etl.checkCsv(outputDir(corrupted: _*), columns, 3, 7650))
  }

  test("a header without duration_ms first, or with other columns, trips the check") {
    val dir = outputDir(good: _*)
    intercept[CheckFailed](Etl.checkCsv(dir, columns + "tag", 3, 7650))
    val swapped = new File(dir, "part-00000.csv")
    val text = new String(JFiles.readAllBytes(swapped.toPath), UTF_8)
    JFiles.write(swapped.toPath, text.replaceFirst("duration_ms,start_time", "start_time,duration_ms").getBytes(UTF_8))
    intercept[CheckFailed](Etl.checkCsv(dir, columns, 3, 7650))
  }
}
