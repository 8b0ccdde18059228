package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.cdc.VersionedState

/** Reads of a committed [[VersionedState]] version take their schema
  * from its manifest: over the producer and consumer stores that
  * `q_cdc_feed_consumer` leaves behind, `readLatestBefore`, `readLatest`
  * and `readAt` start no Spark job, and every kind reads back with the
  * schema Spark's own parquet inference reports for its directory.
  */
class VersionedStateReadSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** `body`'s result and the jobs started while it ran, counted once the
    * bus has drained.
    */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    GraftBus.drain(sc)
    sc.addSparkListener(l)
    val out =
      try { val a = body; GraftBus.drain(sc); a }
      finally sc.removeSparkListener(l)
    (out, jobs.get)
  }

  test("reading a committed version starts no Spark job, and reads " +
    "back every kind with the schema parquet inference reports") {
    val base = tmpDir("graft-vstate-read")
    val consumer = Cdc.changefeedConsumer(spark, base, "consumer")
    val producer = Cdc.streamChangefeedDrive(spark, sf, base,
      afterRun = _ => consumer.runOnce()).state
    val fs = new Path(base).getFileSystem(spark.sessionState.newHadoopConf())
    for ((state, store) <- Seq(producer -> s"$base/store",
        consumer.state -> s"$base/consumer/store")) {
      val kinds = fs.listStatus(new Path(store)).map(_.getPath.getName)
        .filterNot(_ == "_manifest").toSeq.sorted
      assert(kinds.nonEmpty && state.versions.nonEmpty, store)
      val latest = state.versions.max
      for (k <- kinds) {
        val (reads, jobs) = jobsDuring {
          (latest -> state.readLatest(k).get) +:
            (latest -> state.readLatestBefore(k, latest + 1).get) +:
            state.versions.map(v => v -> state.readAt(k, v))
        }
        assert(jobs == 0, s"$store/$k: $jobs jobs to read")
        reads.foreach { case (v, df) =>
          assert(df.schema == spark.read.parquet(s"$store/$k/v$v").schema,
            s"$store/$k/v$v")
        }
      }
    }
  }
}
