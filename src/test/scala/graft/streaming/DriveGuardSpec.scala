package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard, no Spark session: the gate sources under
  * `graft/queries` run every streaming drive through [[Drive]], so none
  * of them may hand-roll a piece of its skeleton again — a
  * shuffle-partition set, a state-store provider swap, a
  * `.start().awaitTermination()` tail, a `foreachBatch` handler, or a
  * base-dir wipe.
  */
class DriveGuardSpec extends AnyFunSuite {

  private val queries: Path =
    Paths.get(sys.props("user.dir"), "src/main/scala/graft/queries")

  private val forbidden = Seq(
    "shuffle-partition set" ->
      """\.set\(\s*"spark\.sql\.shuffle\.partitions"""".r,
    "state-store provider swap" -> "RocksDBStateStoreProvider".r,
    "start/await tail" -> """\.start\(\)\s*\.awaitTermination\(\)""".r,
    "foreachBatch handler" -> """\.foreachBatch\s*[({]""".r,
    "base-dir wipe" ->
      """\.delete\(\s*new\s+org\.apache\.hadoop\.fs\.Path\(base\)""".r)

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

  test("gate sources hand-roll no piece of the drive skeleton") {
    val files = Files.list(queries).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 10, s"no gate sources found under $queries")
    val hits = for {
      f <- files
      src = code(f)
      (what, re) <- forbidden
      if re.findFirstIn(src).nonEmpty
    } yield s"${f.getFileName}: $what"
    assert(hits.isEmpty,
      s"use graft.streaming.Drive instead: ${hits.mkString("; ")}")
  }
}
