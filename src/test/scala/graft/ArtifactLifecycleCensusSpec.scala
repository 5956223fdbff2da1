package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Artifact-lifecycle census: the query packs cache registry artifacts
  * through [[ArtifactRegistry.Build.persist]], which records each frame
  * in its cell, unpersists them if the build throws and again when the
  * cell retires. A pack that re-rolls that lifecycle — its own
  * persist-and-count helper or an unpersist-and-rethrow `catch` —
  * fails here. Runs from the project root (the forked test JVM's
  * working directory). */
class ArtifactLifecycleCensusSpec extends AnyFunSuite with Matchers {

  private def packSources: List[(Path, String)] = {
    val root = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
  }

  private def census(pattern: String): Seq[String] = {
    val re = pattern.r
    packSources.flatMap { case (p, text) =>
      text.linesIterator.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined =>
          s"${p.getFileName}:${i + 1}: ${line.trim}"
      }
    }
  }

  test("no query pack defines its own persistEager") {
    census("""def\s+persistEager\b""") shouldBe empty
  }

  test("no query pack catches Throwable to unpersist and rethrow") {
    census("""catch\s*\{\s*case\s+\w+\s*:\s*Throwable\s*=>""") shouldBe empty
  }
}
