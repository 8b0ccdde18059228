package graft.cdc

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard, no Spark session: [[FeedConsumer]] owns the one feed
  * tail — the applied-version frontier, the retention-gap check and the
  * `applied` publish — so no other program source may compute that
  * frontier, publish an `applied` kind, or define a second consumer
  * class beside it.
  */
class FeedConsumerGuardSpec extends AnyFunSuite {

  private val root: Path = Paths.get(sys.props("user.dir"), "src/main/scala")

  private val forbidden = Seq(
    "frontier helper call" ->
      """FeedConsumer\.(?:gap|appliedBefore|feedVersions)\b""".r,
    "applied publish" ->
      """"applied"\s*->|(?:publish\w*|After)\(\s*"applied"""".r,
    "consumer class" -> """\bclass\s+\w*Consumer\b""".r)

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

  test("only FeedConsumer tails a feed or publishes an applied frontier") {
    val files = Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") &&
        f.getFileName.toString != "FeedConsumer.scala")
      .toSeq
    assert(files.size > 50, s"no program sources found under $root")
    val hits = for {
      f <- files
      src = code(f)
      (what, re) <- forbidden
      if re.findFirstIn(src).nonEmpty
    } yield s"${root.relativize(f)}: $what"
    assert(hits.isEmpty,
      s"tail feeds through graft.cdc.FeedConsumer: ${hits.mkString("; ")}")
  }
}
