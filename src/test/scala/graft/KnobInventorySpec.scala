package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Every `spark.graft.*` session conf the engine reads has a row in
  * README's Configuration table — an undocumented knob is one no
  * deployment can find. The inventory is every string literal under
  * `src/main/scala` that starts with the prefix; a table cell may
  * abbreviate the later keys of a row (`delete.mode` / `update.mode`).
  */
class KnobInventorySpec extends AnyFunSuite with Matchers {

  private val KnobLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)".r
  private val CodeSpan = "`([^`]+)`".r

  test("README's configuration table documents every spark.graft knob") {
    val sources = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val used = sources.flatMap(p =>
      KnobLiteral.findAllMatchIn(Files.readString(p)).map(_.group(1))).toSet
    used should not be empty

    val readme = Files.readString(Paths.get("README.md"))
    val rows = readme.substring(readme.indexOf("## Configuration"))
      .linesIterator.dropWhile(!_.startsWith("|")).takeWhile(_.startsWith("|"))
    val documented = rows.flatMap { row =>
      CodeSpan.findAllMatchIn(row.split('|')(1)).map(_.group(1)).map(k =>
        if (k.startsWith("spark.graft.")) k else s"spark.graft.$k")
    }.toSet

    (used -- documented) shouldBe empty
  }
}
