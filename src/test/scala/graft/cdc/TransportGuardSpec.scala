package graft.cdc

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard, no Spark session: the CDC file transport is the
  * `graft-cdc` table on both ends ([[CdcPipeline]]), so no program source
  * under `graft/` may stream through Spark's `text` file source or into
  * its `text` sink — a second file transport whose source silently skips
  * files that land out of order. Batch `read.text` staging of fixtures
  * is not a stream and stays allowed.
  */
class TransportGuardSpec extends AnyFunSuite {

  private val root: Path = Paths.get(sys.props("user.dir"), "src/main/scala/graft")

  // the call that ends a `readStream` chain; a chain never crosses a
  // blank line
  private val terminal = """\.(?:load|text|textFile|json|csv|parquet|orc|table)\("""

  private val forbidden = Seq(
    "streaming text source" ->
      raw"""readStream(?:(?!$terminal|\n\s*\n)[\s\S])*(?:\.text(?:File)?\(|format\(\s*"text"\s*\))""".r,
    "streaming text sink" ->
      raw"""writeStream(?:(?!\.start\(|\.toTable\(|\n\s*\n)[\s\S])*format\(\s*"text"\s*\)""".r)

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

  test("program sources stream through no text source or text sink") {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"no program sources found under $root")
    val hits = for {
      f <- files
      src = code(f)
      (what, re) <- forbidden
      if re.findFirstIn(src).nonEmpty
    } yield s"${root.relativize(f)}: $what"
    assert(hits.isEmpty,
      s"stream CDC files through format(\"graft-cdc\"): ${hits.mkString("; ")}")
  }
}
