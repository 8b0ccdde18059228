package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard, no Spark session: [[Gates]] owns the one attribution
  * recorder and the one between-gates cleanup, so no other program source
  * may register a `SparkListener`, define one, or clear the catalog cache.
  */
class GatesGuardSpec extends AnyFunSuite {

  private val root: Path = Paths.get(sys.props("user.dir"), "src/main/scala")

  private val forbidden = Seq(
    "listener registration" -> """addSparkListener\b""".r,
    "SparkListener subclass" -> """(?:extends|new)\s+SparkListener\b""".r,
    "catalog cache clear" -> """catalog\.clearCache\(\)""".r)

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

  test("only the gate runner records attribution or clears the catalog cache") {
    val files = Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != "Gates.scala")
      .toSeq
    assert(files.size > 50, s"no program sources found under $root")
    val hits = for {
      f <- files
      src = code(f)
      (what, re) <- forbidden
      if re.findFirstIn(src).nonEmpty
    } yield s"${root.relativize(f)}: $what"
    assert(hits.isEmpty, s"run gates through graft.Gates: ${hits.mkString("; ")}")
  }
}
