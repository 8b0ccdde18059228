package graft.queries

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard, no Spark session: every gate scratch dir and staged
  * fixture lives in the per-JVM scratch of [[Cdc]] (`gateTmpDir`,
  * `stageOnce`), so no program source under `graft/` may build a second
  * build-once or temp-dir path: a `_SUCCESS` probe in a gate, a
  * `latestVersion.isEmpty` build check, a staged-fixture version, a
  * `Files.createTempDirectory`, or a read of `java.io.tmpdir` outside
  * the scratch helpers.
  */
class ScratchGuardSpec extends AnyFunSuite {

  private val root: Path = Paths.get(sys.props("user.dir"), "src/main/scala/graft")

  /** (what, pattern, whether it only applies under `graft/queries`). */
  private val forbidden = Seq(
    ("_SUCCESS probe", "_SUCCESS\"".r, true),
    ("latestVersion.isEmpty build check", """latestVersion\.isEmpty""".r, false),
    ("StagedFixtureVersion", "StagedFixtureVersion".r, false),
    ("Files.createTempDirectory", """Files\.createTempDirectory""".r, false),
    ("java.io.tmpdir read", """java\.io\.tmpdir""".r, false))

  /** The scratch helpers: the only members allowed to resolve the root. */
  private val helpers = Set("scratch", "gateTmpDir", "stageOnce", "stagedDirIfReady")
    .map("queries/Cdc.scala" -> _)

  /** A top-level member's declaration (two-space indent in an object). */
  private val member =
    """^  (?:[a-z\[\]]+\s+)*(?:def|val|var|object|class)\s+(\w+)""".r.unanchored

  private def comment(l: String): Boolean = {
    val t = l.trim
    t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
  }

  test("gate scratch has one per-JVM home and one build-once path") {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"no program sources found under $root")
    val hits = for {
      f <- files
      rel = root.relativize(f).toString
      lines = Files.readAllLines(f).asScala.toIndexedSeq
      (l, i) <- lines.zipWithIndex
      if !comment(l)
      (what, re, queriesOnly) <- forbidden
      if (!queriesOnly || rel.startsWith("queries/")) && re.findFirstIn(l).nonEmpty
      owner = (i to 0 by -1).iterator.map(lines(_)).collectFirst {
        case member(n) => n
      }.getOrElse("?")
      if !helpers((rel, owner))
    } yield s"$rel:${i + 1} $owner: $what"
    assert(hits.isEmpty,
      s"stage through Cdc.stageOnce / Cdc.gateTmpDir: ${hits.mkString("; ")}")
  }
}
