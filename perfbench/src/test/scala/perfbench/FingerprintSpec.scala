package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SparkEntry}

class FingerprintSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val fixture = "data/sf0.01"

  override def beforeAll(): Unit = spark = GraftSession.get("perfbench-test", 2)
  override def afterAll(): Unit = spark.stop()

  test("a registry line's fingerprint is stable across two passes and matches the expected file") {
    val expected = Fingerprints.read("expected/registry_fingerprints.tsv")
    val line = "q02_derive_div"
    val twice = (1 to 2).map(_ => Registry.fingerprint(SparkEntry.queries(line)(spark, fixture)))
    assert(twice(0) == twice(1))
    assert(expected.get(line).contains(twice(0)))
  }

  test("the fingerprint ignores row order but sees a changed value or a moved null") {
    val session = spark
    import session.implicits._
    def frame(rows: (Int, Option[String])*) = rows.toDF("k", "v")
    val fp = Registry.fingerprint(frame((1, Some("a")), (2, None), (3, Some("c"))))
    assert(Registry.fingerprint(frame((3, Some("c")), (1, Some("a")), (2, None))) == fp)
    assert(Registry.fingerprint(frame((1, Some("a")), (2, None), (3, Some("d")))) != fp)
    assert(Registry.fingerprint(frame((1, None), (2, Some("a")), (3, Some("c")))) != fp)
    assert(fp.startsWith("3:"))
  }
}
