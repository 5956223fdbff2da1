package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Settings census: every `SPARK_GRAFT_*` name the main sources read
  * is documented in README.md's "Settings" table, and the table names
  * nothing the code no longer reads. Runs from the project root (the
  * forked test JVM's working directory). */
class SettingsCensusSpec extends AnyFunSuite with Matchers {

  private val name = "SPARK_GRAFT_\\w+".r

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** Names quoted as string literals anywhere under src/main/scala. */
  private def codeNames: Set[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    val literal = "\"(SPARK_GRAFT_\\w+)\"".r
    files.flatMap(f => literal.findAllMatchIn(read(f)).map(_.group(1))).toSet
  }

  /** Names in the first column of the README "## Settings" table. */
  private def tableNames: Set[String] = {
    val lines = read(Paths.get("README.md")).linesIterator.toList
    val section = lines.dropWhile(_.trim != "## Settings").drop(1)
      .takeWhile(l => !l.startsWith("## "))
    section.filter(_.startsWith("|"))
      .flatMap(l => name.findFirstIn(l.split('|')(1))).toSet
  }

  test("README's Settings table lists exactly the SPARK_GRAFT_* names " +
      "the main sources read") {
    val code = codeNames
    val table = tableNames
    code should not be empty
    withClue(s"read in src/main/scala but missing from README Settings: " +
        s"${(code -- table).toSeq.sorted}; in the table but never read: " +
        s"${(table -- code).toSeq.sorted}\n") {
      table shouldBe code
    }
  }
}
