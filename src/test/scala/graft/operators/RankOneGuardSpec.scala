package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard, no Spark session: [[RankOne]] is the only code that
  * turns a rank-1 order into an aggregate, so no other program source
  * under `graft/` may hand-encode one as `min_by`, `max_by`,
  * `min(struct(…))` or `max(struct(…))`.
  */
class RankOneGuardSpec extends AnyFunSuite {

  private val root: Path = Paths.get(sys.props("user.dir"), "src/main/scala/graft")

  private val handEncoded =
    """\b(?:min_by|max_by)\(|\b(?:min|max)\(\s*struct\(""".r

  /** The file's code with comment lines dropped (prose may name the
    * patterns).
    */
  private def code(p: Path): String =
    Files.readAllLines(p).asScala
      .filterNot { l =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }
      .mkString("\n")

  test("only RankOne encodes a rank-1 order as an argmin/argmax aggregate") {
    val files = Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") &&
        f.getFileName.toString != "RankOne.scala")
      .toSeq
    assert(files.size > 50, s"no program sources found under $root")
    val hits = files.filter(f => handEncoded.findFirstIn(code(f)).nonEmpty)
      .map(f => root.relativize(f).toString).sorted
    assert(hits.isEmpty,
      s"state the order and call graft.operators.RankOne: ${hits.mkString("; ")}")
  }
}
