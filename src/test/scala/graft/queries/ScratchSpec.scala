package graft.queries

import java.io.File

import graft.SparkSpec

/** The per-JVM gate scratch of [[Cdc]]: `stageOnce` builds a fixture once
  * per JVM and forgets a failed build, and the first use of a fixture
  * root deletes the scratch dirs that dead JVMs of this host left there.
  */
class ScratchSpec extends SparkSpec {

  /** Run `body` with the fixture root at a fresh local dir, deleted
    * afterwards.
    */
  private def withRoot[A](body: String => A): A = {
    spark // the scratch resolves its file system through the session
    val root = tmpDir("graft-scratch")
    val prev = sys.props.get("graft.fixture.root")
    sys.props("graft.fixture.root") = root
    try body(root) finally {
      prev match {
        case Some(p) => sys.props("graft.fixture.root") = p
        case None => sys.props.remove("graft.fixture.root")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new File(root)): Unit
    }
  }

  test("two stageOnce calls with the same (prefix, sf) build once") {
    withRoot { _ =>
      var builds = 0
      def stage() = Cdc.stageOnce(spark, "graft_scratch_once", "sf") { st =>
        builds += 1
        assert(new File(st, "data").mkdirs())
      }
      val first = stage()
      assert(stage() == first && builds == 1, s"built $builds times")
      assert(new File(first, "data").isDirectory)
      assert(Cdc.stagedDirIfReady(spark, "graft_scratch_once", "sf")
        .contains(first))
    }
  }

  test("a build that throws records nothing; the next call rebuilds " +
    "from a wiped dir") {
    withRoot { _ =>
      val prefix = "graft_scratch_retry"
      intercept[IllegalStateException] {
        Cdc.stageOnce(spark, prefix, "sf") { st =>
          assert(new File(st, "partial").mkdirs())
          throw new IllegalStateException("build failed midway")
        }
      }
      assert(Cdc.stagedDirIfReady(spark, prefix, "sf").isEmpty)
      var sawPartial = true
      val dir = Cdc.stageOnce(spark, prefix, "sf") { st =>
        sawPartial = new File(st, "partial").exists()
      }
      assert(!sawPartial, "the rebuild saw the failed build's files")
      assert(Cdc.stagedDirIfReady(spark, prefix, "sf").contains(dir))
    }
  }

  test("the first use of a root deletes a dead pid's scratch dir and " +
    "keeps this JVM's, a live pid's and another host's") {
    // this JVM's tag, learned under the current root: gateTmpDir is
    // <root>/<jvm tag>/gate/<prefix>_<sf>
    spark
    val own = new File(Cdc.gateTmpDir("graft_scratch_tag", "sf"))
      .getParentFile.getParentFile.getName
    val host = own.substring(own.indexOf('@') + 1)
    val dead = {
      val p = new ProcessBuilder("/bin/true").start()
      p.waitFor()
      p.pid()
    }
    assert(!ProcessHandle.of(dead).isPresent, s"pid $dead still alive")
    val live = ProcessHandle.current.parent.get.pid
    withRoot { root =>
      def sibling(name: String): File = {
        val f = new File(root, name)
        assert(new File(f, "gate").mkdirs())
        f
      }
      val deadDir = sibling(s"graft-jvm-$dead@$host")
      val liveDir = sibling(s"graft-jvm-$live@$host")
      val otherHost = sibling(s"graft-jvm-$dead@not-$host")
      val gate = new File(Cdc.gateTmpDir("graft_scratch_sweep", "sf"))
      val ownDir = gate.getParentFile.getParentFile
      assert(ownDir.getName == own && ownDir.getParent == root)
      assert(ownDir.isDirectory, "this JVM's scratch dir is missing")
      assert(!deadDir.exists, s"dead pid's dir survived: $deadDir")
      assert(liveDir.isDirectory && otherHost.isDirectory,
        s"swept a live pid's or another host's dir: ${new File(root).list().toSeq}")
    }
  }
}
