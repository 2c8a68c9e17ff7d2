package graft.queries

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The registry's stored products are recorded only by the session's
  * catalog ([[Products]]). A JVM-global memo of built products outlives
  * the catalog it vouches for, so none may come back into
  * `graft.queries`. Source scan only; no Spark work.
  */
class NoProductMemoSpec extends AnyFunSuite {

  private val memo = raw"newKeySet|mutable\.Set\[|ConcurrentHashMap\[String, DataFrame\]".r

  test("no JVM-global product memo in graft.queries") {
    val dir = Paths.get("src/main/scala/graft/queries")
    val files = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    assert(files.nonEmpty, s"no sources under ${dir.toAbsolutePath}")
    val hits = files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if memo.findFirstIn(line).isDefined =>
          s"${f.getFileName}:${i + 1}: ${line.trim}"
      }
    }
    if (hits.nonEmpty) fail(hits.mkString(s"${hits.size} product memo(s):\n", "\n", ""))
  }
}
