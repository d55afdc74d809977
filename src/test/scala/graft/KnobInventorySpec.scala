package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** README's Configuration table and the `spark.graft.*` session confs
  * the engine reads are the same set: an undocumented knob is one no
  * deployment can find, and a documented one nothing reads is a retired
  * knob whose row went stale. The inventory is every string literal
  * under `src/main/scala` that starts with the prefix; a table cell may
  * abbreviate the later keys of a row (`delete.mode` / `update.mode`).
  */
class KnobInventorySpec extends AnyFunSuite with Matchers {

  private val KnobLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)".r
  private val CodeSpan = "`([^`]+)`".r

  private lazy val used: Set[String] = {
    val sources = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    sources.flatMap(p =>
      KnobLiteral.findAllMatchIn(Files.readString(p)).map(_.group(1))).toSet
  }

  private lazy val documented: Set[String] = {
    val readme = Files.readString(Paths.get("README.md"))
    val rows = readme.substring(readme.indexOf("## Configuration"))
      .linesIterator.dropWhile(!_.startsWith("|")).takeWhile(_.startsWith("|"))
    rows.flatMap { row =>
      CodeSpan.findAllMatchIn(row.split('|')(1)).map(_.group(1)).map(k =>
        if (k.startsWith("spark.graft.")) k else s"spark.graft.$k")
    }.toSet
  }

  test("README's configuration table documents every spark.graft knob") {
    used should not be empty
    (used -- documented) shouldBe empty
  }

  test("every spark.graft knob in README's configuration table is read under src/main/scala") {
    documented should not be empty
    (documented -- used) shouldBe empty
  }
}
