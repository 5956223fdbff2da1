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
  * fails here, and so does a raw cache that is not on the allowlist.
  * Runs from the project root (the forked test JVM's working
  * directory). */
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

  /** Raw caches under graft/queries — a `persist(StorageLevel…)`, a
    * bare `persist()` or `cache()`, i.e. anything that does not go
    * through the build handle, so no registry owns it and
    * [[ArtifactRegistry.release]] cannot free it. Each one stays only
    * with its (file, enclosing def) and a reason. */
  private val rawCaches: Map[(String, String), String] = Map(
    ("SimilarityQueries.scala", "d8") -> ("the md5-rank audit sample " +
      "(three consumers); its cap is a query knob, not a corpus artifact"),
    ("SimilarityQueries.scala", "s13") -> ("the per-call query x corpus " +
      "distance frame (truth + every probe level); unpersisted in place " +
      "once the localized answer is built"),
    ("SimilarityQueries.scala", "s30") -> ("the per-call ranked candidate " +
      "frame the three refine legs read; unpersisted in place once the " +
      "fused lists are localized"),
    ("DedupQueries.scala", "d11") -> ("the removed-span positions (two " +
      "consumers: affected docs + position anti-join)"),
    ("DedupQueries.scala", "d14") -> ("the exact-text members frame (reps, " +
      "intra pairs and expansion read it)"),
    ("DedupQueries.scala", "d19") -> ("the split-assignment tail (both " +
      "leak-join sides + the split aggregate)"),
    ("TextQueries.scala", "t17") -> ("the per-source distinct grams " +
      "(sizes + both self-join sides)"),
    ("TextQueries.scala", "t18") -> ("the per-doc grams (first-seen " +
      "aggregate + probe side)"))

  test("every raw cache under graft/queries is allowlisted, and every " +
      "allowlisted one still exists") {
    val raw = ("""\.(?:persist\(\s*(?:org\.apache\.spark\.storage\.)?""" +
      """StorageLevel\b|persist\(\s*\)|cache\(\s*\))""").r
    val enclosingDef = """\bdef\s+(\w+)""".r
    val found = packSources.flatMap { case (p, text) =>
      raw.findAllMatchIn(text).map { m =>
        val d = enclosingDef.findAllMatchIn(text.substring(0, m.start))
          .foldLeft("<top>")((_, dm) => dm.group(1))
        (p.getFileName.toString, d)
      }
    }.toSet
    withClue("raw caches not on the allowlist (cache through the build " +
        "handle, or add an entry with its reason): ") {
      (found -- rawCaches.keySet) shouldBe empty
    }
    withClue("allowlisted raw caches no longer present — prune: ") {
      (rawCaches.keySet -- found) shouldBe empty
    }
  }
}
