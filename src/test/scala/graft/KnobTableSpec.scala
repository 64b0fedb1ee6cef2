package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The README "Scale knobs" table is the one list of settable
  * `spark.graft.*` options. Fails when a key that `src/main/scala` reads
  * (a full `"spark.graft.<key>"` string literal) has no row, or when a row
  * names a key no main source reads any more.
  */
class KnobTableSpec extends AnyFunSuite {

  private val KeyLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]*[A-Za-z0-9_])\"".r
  private val KnobRow = "^\\| `(spark\\.graft\\.[^`]+)` \\|.*".r

  private def readKeys: Set[String] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { (p: Path) =>
      KeyLiteral.findAllMatchIn(Files.readString(p)).map(_.group(1))
    }.toSet
  }

  private def tableKeys: Set[String] = {
    val lines = Files.readAllLines(Paths.get("README.md")).asScala
    lines.dropWhile(_ != "## Scale knobs").drop(1)
      .takeWhile(l => !l.startsWith("## "))
      .collect { case KnobRow(k) => k }.toSet
  }

  test("the README knob table lists every spark.graft key src/main reads") {
    val read = readKeys
    assert(read.nonEmpty, "no spark.graft literal found under src/main/scala")
    val missing = read -- tableKeys
    assert(missing.isEmpty, s"read in src/main but not in the README table: $missing")
  }

  test("every README knob row names a key src/main still reads") {
    val table = tableKeys
    assert(table.nonEmpty, "no rows under the README's Scale knobs heading")
    val stale = table -- readKeys
    assert(stale.isEmpty, s"README rows no main source reads: $stale")
  }
}
