package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

import graft.cdc.VersionedState

/** The one generational drive every streaming gate runs on — the
  * D-Streams shape (SOSP 2013): each micro-batch is a deterministic,
  * replayable step over versioned state, and a gate is only its staged
  * generations plus that step.
  *
  *  - [[fresh]] wipes the gate's working dir: every invocation replays
  *    from nothing, so a stale checkpoint can never resume into it.
  *  - [[generations]] lands each generation's staged files in the live
  *    input dirs (`Cdc.copyStaged`, pure file copies — no Spark job)
  *    while the stream is DOWN, then runs the query to termination: a
  *    full checkpoint restart per generation.
  *  - [[stateConf]] is the one conf window those runs share, restored
  *    in a `finally`.
  *  - [[versioned]] / [[maintain]] run a step over a [[VersionedState]]
  *    in a `foreachBatch` handler: the batch is cached for the step and
  *    released in a `finally`, even when the step throws; the step reads
  *    the state strictly below its batch id and returns the kinds to
  *    publish; the drive writes them and commits the version's
  *    manifest last.
  *
  * State partitions sized to state volume: every micro-batch of a
  * stateful query commits one delta file PER state partition (a
  * stream-stream join keeps four stores per partition), and every
  * versioned publish writes one file per shuffle partition, so the
  * session's scan-sized partition count is pure fixed IO at these
  * fixtures' hundreds-to-thousands of keys. The window sizes it to the
  * state (4); at production volume the same setting scales back up
  * with state cardinality — a config, not a plan change.
  */
object Drive {

  private val Partitions = "spark.sql.shuffle.partitions"
  private val Provider = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Wipe `base` (any Hadoop scheme) and return it. */
  def fresh(s: SparkSession, base: String): String = {
    val p = new Path(base)
    p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
    base
  }

  /** Run `body` with the state-sized shuffle partitions and, when
    * `rocksDb`, the RocksDB state store (`transformWithState` requires
    * it). The caller's values come back afterwards — an explicitly
    * unset key is unset again, not pinned to its default.
    */
  def stateConf[A](s: SparkSession, rocksDb: Boolean = false)(
      body: => A): A =
    graft.EngineTuning.withConfs(s, (Partitions -> "4") +:
      (if (rocksDb) Seq(Provider -> RocksDb) else Nil): _*)(body)

  /** One staged dir a generation lands: its data files are copied into
    * the live input dir `to`, renamed under `prefix` (the file source
    * needs names distinct across generations).
    */
  final case class Land(from: String, to: String, prefix: String)

  /** Inside one [[stateConf]] window: for each generation, land its
    * staged dirs, then `run()` the query to termination; `afterRun`
    * sees the generation's index after its run.
    */
  def generations(s: SparkSession, gens: Seq[Seq[Land]],
      rocksDb: Boolean = false, afterRun: Int => Unit = _ => ())(
      run: () => Unit): Unit =
    stateConf(s, rocksDb) {
      gens.zipWithIndex.foreach { case (gen, i) =>
        gen.foreach(l => graft.queries.Cdc.copyStaged(s, l.from, l.to,
          l.prefix))
        run()
        afterRun(i)
      }
    }

  /** Start `w` on checkpoint `ck` and block until it terminates. */
  def await[T](w: DataStreamWriter[T], ck: String,
      trigger: Trigger = Trigger.AvailableNow()): Unit =
    w.option("checkpointLocation", ck).trigger(trigger).start()
      .awaitTermination()

  /** Every micro-batch of `out` written to `$sink/batch=<id>` with
    * overwrite, so a replayed batch rewrites its own directory.
    */
  def batchSink(out: DataFrame, sink: String): DataStreamWriter[Row] =
    out.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        b.write.mode("overwrite").parquet(s"$sink/batch=$id"): Unit
      }
      .outputMode(OutputMode.Update)

  /** One stage of a micro-batch's publish. Every stage is written
    * before the version's manifest commits, so a crash between stages
    * leaves the previous version current instead of a torn one.
    */
  sealed trait Stage

  /** Kinds written at once: every [[Kinds]] of a step is written in one
    * concurrent [[VersionedState.write]], before any [[After]].
    */
  final case class Kinds(kinds: (String, DataFrame)*) extends Stage

  /** A kind built only when its turn comes, after the step's [[Kinds]]
    * and any earlier `After`, so it may read back ([[Batch.published]])
    * a kind just written — one materialized pass instead of
    * re-executing that kind's lineage.
    */
  final case class After(kind: String, build: () => DataFrame)
      extends Stage

  /** The batch a step folds, and the only state reads a step makes. */
  final class Batch(val df: DataFrame, val id: Long,
      state: VersionedState) {

    /** `kind` at the newest version strictly below this batch: a
      * re-delivered batch folds into the state BEFORE its own publish,
      * so its replay is byte-identical (see [[VersionedState]]).
      */
    def before(kind: String): Option[DataFrame] =
      state.readLatestBefore(kind, id)

    /** `kind` as this batch wrote it (for [[After]]). */
    def published(kind: String): DataFrame = state.publishedAt(kind, id)
      .getOrElse(sys.error(s"batch $id has not written '$kind'"))
  }

  /** The `foreachBatch` handler over `state`: cache the batch, run
    * `step`, write its [[Kinds]] at once and then each [[After]], commit
    * the version's manifest, then — with `keepLast` — prune live; a step
    * with no stages commits no version. The batch is unpersisted in a
    * `finally`, so a failing step surfaces its own exception and leaves
    * no cached batch behind. A handler that prunes after its own commit
    * keeps ≥ 2 versions, so a re-delivered batch still finds the version
    * it folds into.
    */
  def versioned(state: VersionedState, keepLast: Option[Int] = None)(
      step: Batch => Seq[Stage]): (DataFrame, Long) => Unit =
    (batch, id) => {
      val b = batch.cache()
      try {
        val (kinds, afters) = step(new Batch(b, id, state)).partitionMap {
          case Kinds(ks @ _*) => Left(ks)
          case a: After => Right(a)
        }
        val written = state.write(id, kinds.flatten: _*) ++
          afters.flatMap(a => state.write(id, a.kind -> a.build()))
        if (written.nonEmpty) state.commit(id, written)
        keepLast.foreach(n => state.prune(keepLast = n))
      } finally b.unpersist(): Unit
    }

  /** A maintained drive: its state, its checkpoint, and one more run in
    * the conf window (specs un-commit a batch and force a re-delivery).
    */
  final case class Maintained(state: VersionedState, ck: String,
      runOnce: () => Unit)

  /** The maintained-state drive under `base` (wiped by the caller via
    * [[fresh]]): `source(in)` tails `$base/in`, each generation lands
    * its `(staged dir, prefix)` pairs there and restarts the stream, and
    * every micro-batch runs [[versioned]] over the `$base/store` state.
    */
  def maintain(s: SparkSession, base: String,
      gens: Seq[Seq[(String, String)]], source: String => DataFrame,
      keepLast: Option[Int] = None, afterRun: Int => Unit = _ => ())(
      step: Batch => Seq[Stage]): Maintained = {
    val (in, ck) = (s"$base/in", s"$base/ck")
    val state = new VersionedState(s, s"$base/store")
    def run(): Unit =
      await(source(in).writeStream
        .foreachBatch(versioned(state, keepLast)(step))
        .outputMode(OutputMode.Update), ck)
    generations(s,
      gens.map(_.map { case (from, prefix) => Land(from, in, prefix) }),
      afterRun = afterRun)(() => run())
    Maintained(state, ck, () => stateConf(s)(run()))
  }
}
