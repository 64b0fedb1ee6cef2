package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The README "Scale knobs" table is the one list of settable
  * `spark.graft.*` options. Fails when a key that `src/main/scala` reads
  * (a full `"spark.graft.<key>"` string literal) has no row, when a row
  * names a key no main source reads any more, or when a main source reads
  * a `graft.*` JVM system property that has no row.
  */
class KnobTableSpec extends AnyFunSuite {

  private val KeyLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]*[A-Za-z0-9_])\"".r
  private val KnobRow = "^\\| `(spark\\.graft\\.[^`]+)` \\|.*".r
  private val PropLiteral = ("(?:getLong|getInteger|getBoolean|getProperty|" +
    "sys\\.props(?:\\.get|\\.getOrElse)?)\\(\\s*\"(graft\\.[^\"]+)\"").r
  private val PropRow = "^\\| `(graft\\.[^`]+)` \\|.*".r

  private def mainSources: Seq[String] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).map(Files.readString(_)).toSeq

  private def readKeys: Set[String] =
    mainSources.flatMap(KeyLiteral.findAllMatchIn(_).map(_.group(1))).toSet

  private def tableRows: Seq[String] =
    Files.readAllLines(Paths.get("README.md")).asScala.toSeq
      .dropWhile(_ != "## Scale knobs").drop(1)
      .takeWhile(l => !l.startsWith("## "))

  private def tableKeys: Set[String] =
    tableRows.collect { case KnobRow(k) => k }.toSet

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

  test("every graft.* system property src/main reads has a README row") {
    val props = mainSources.flatMap(PropLiteral.findAllMatchIn(_).map(_.group(1))).toSet
    val missing = props -- tableRows.collect { case PropRow(k) => k }
    assert(missing.isEmpty,
      s"system properties read in src/main but not in the README table: $missing")
  }
}
