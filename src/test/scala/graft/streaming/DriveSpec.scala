package graft.streaming

import graft.SparkSpec
import graft.cdc.VersionedState
import org.apache.spark.sql.functions._

/** The drive's failure contract, on a tiny two-generation fixture: a
  * step that throws in the second generation surfaces its own exception,
  * leaves no cached batch behind (the handler unpersists in a
  * `finally`), and the caller's shuffle-partition and state-store
  * settings come back exactly — an unset provider stays unset.
  */
class DriveSpec extends SparkSpec {

  private val Partitions = "spark.sql.shuffle.partitions"
  private val Provider = "spark.sql.streaming.stateStore.providerClass"

  test("a throwing step surfaces its exception, releases its cached " +
    "batch, and restores the caller's conf") {
    val s = spark
    val base = tmpDir("graft-drive-spec")
    s.range(0, 10).toDF("x").write.parquet(s"$base/staged/gen1")
    s.range(10, 20).toDF("x").write.parquet(s"$base/staged/gen2")
    val state = new VersionedState(s, s"$base/store")
    val step = Drive.versioned(state) { batch =>
      // an action on the cached batch registers its persistent RDD
      val n = batch.df.count()
      if (batch.id == 1L) throw new IllegalStateException("step failed")
      Seq(Drive.Kinds("total" -> s.range(1).select(lit(n).as("n"))))
    }
    val callerParts = s.conf.get(Partitions)
    s.conf.set(Partitions, "7")
    s.conf.unset(Provider)
    val before = s.conf.getAll
    val rddsBefore = s.sparkContext.getPersistentRDDs.keySet
    try {
      val ex = intercept[Exception] {
        Drive.generations(s,
          Seq("gen1", "gen2").map(g =>
            Seq(Drive.Land(s"$base/staged/$g", s"$base/in", g))),
          rocksDb = true) { () =>
          Drive.await(s.readStream.schema("x LONG").parquet(s"$base/in")
            .writeStream.foreachBatch(step), s"$base/ck")
        }
      }
      val chain = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(chain.exists(e => e.isInstanceOf[IllegalStateException] &&
        e.getMessage == "step failed"), s"got: $chain")
      // generation 1 published before generation 2's step failed
      assert(state.versions == Seq(0L))
      assert(s.sparkContext.getPersistentRDDs.keySet == rddsBefore,
        "the failed batch's cache must be released")
      val after = s.conf.getAll
      assert(after.get(Partitions) == Some("7"))
      assert(after.get(Provider) == None, "an unset provider stays unset")
      assert(after == before)
    } finally s.conf.set(Partitions, callerParts)
  }
}
