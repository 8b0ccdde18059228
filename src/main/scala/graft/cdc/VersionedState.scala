package graft.cdc

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned, idempotent micro-batch state publishing over any Hadoop
  * `FileSystem`.
  *
  * The streaming IVM gates maintain their view state OUTSIDE Spark's
  * streaming state store (the state must round-trip parquet losslessly
  * and be readable by the gate after the stream stops), keyed by the
  * micro-batch id: `foreachBatch` re-delivery after a checkpoint restart
  * overwrites the same `v<batchId>` directory with identical bytes, so a
  * replayed batch is idempotent by construction.
  *
  * All path operations go through the Hadoop `FileSystem` resolved from
  * the store path itself — never `java.io.File` — so the same code runs
  * against `file:`, HDFS, or an object store. (A `java.io.File` listing
  * would silently return nothing on a non-local store, making every
  * batch re-bootstrap with wrong provenance markers and no error; that
  * exact bug shipped in round 8 and is spec-pinned in
  * `VersionedStateSpec` against a non-`file:` scheme.)
  *
  * `anchor` names the state kind whose directory is the version source
  * of truth. A publisher writes the anchor kind LAST in each batch, so a
  * crash between kinds leaves the previous version current rather than
  * exposing a torn one.
  *
  * Reference behavior mirrored: the sink-side consumer state layout of
  * `/root/reference/docs/architecture.md:49-66` (per-view materialized
  * state maintained from a change stream, resumable after restart).
  */
final class VersionedState(spark: SparkSession, store: String,
    anchor: String) {
  private val fs =
    new Path(store).getFileSystem(spark.sessionState.newHadoopConf())

  /** Highest published version, by listing the anchor kind's directory
    * through the Hadoop API. None until the first publish.
    */
  def latestVersion: Option[Long] = latestVersionBefore(Long.MaxValue)

  /** Version ids published under `kind`, unsorted — the ONE place the
    * v-directory naming is parsed (listing through the Hadoop API;
    * `latestVersionBefore`, [[versions]], and [[prune]] all read
    * through here, so retention and visibility can never diverge).
    * Non-numeric `v*` entries (a temp directory a killed writer left
    * behind) are SKIPPED, not thrown on: a single stray name must not
    * brick every read of an otherwise-healthy store.
    */
  private def versionsOf(kind: String): Seq[Long] = {
    val dir = new Path(s"$store/$kind")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName).toSeq
      .filter(_.startsWith("v"))
      .flatMap(n => scala.util.Try(n.drop(1).toLong).toOption)
  }

  /** Highest published version STRICTLY below `bound`. The in-stream
    * read: a foreachBatch handler must fold batch `id` into the state
    * of versions < id, never `readLatest` — after a crash (or duplicate
    * delivery) between a completed publish of batch id and the
    * streaming checkpoint's commit of it, the batch is re-delivered and
    * an unbounded read would return the batch's OWN published state, so
    * a non-idempotent step (an aggregate delta) would double-apply.
    * The bounded read makes the replayed step byte-identical to the
    * first attempt. (The anchor-kind-last discipline covers the
    * complementary failure: a crash BETWEEN kinds of one publish.)
    */
  def latestVersionBefore(bound: Long): Option[Long] =
    Some(versionsOf(anchor).filter(_ < bound))
      .filter(_.nonEmpty).map(_.max)

  /** The given kind at [[latestVersion]] (all kinds publish under the
    * same batch id, anchor last).
    */
  def readLatest(kind: String): Option[DataFrame] =
    latestVersion.map(v => spark.read.parquet(s"$store/$kind/v$v"))

  /** The given kind at [[latestVersionBefore]]`(bound)` — the only safe
    * read INSIDE a foreachBatch handler (pass the batch id as bound).
    */
  def readLatestBefore(kind: String, bound: Long): Option[DataFrame] =
    latestVersionBefore(bound)
      .map(v => spark.read.parquet(s"$store/$kind/v$v"))

  /** The given kind at an EXACT retained version — the time-travel
    * point read ([[versions]] lists what is retained). The caller asks
    * for a version it got from [[versions]]/[[latestVersionBefore]];
    * asking for a pruned or never-published one fails loudly in the
    * parquet read, which is the right failure for a reproducibility
    * surface (never silently substitute a neighbor generation).
    */
  def readAt(kind: String, version: Long): DataFrame =
    spark.read.parquet(s"$store/$kind/v$version")

  /** The given kind as batch `id` published it, if that publish
    * completed (its `_SUCCESS` marker exists) — how a re-delivered batch
    * sees its first run. Costs one existence test when it did not.
    */
  def publishedAt(kind: String, id: Long): Option[DataFrame] =
    Some(s"$store/$kind/v$id").filter(d => fs.exists(new Path(s"$d/_SUCCESS")))
      .map(spark.read.parquet(_))

  /** Idempotent publish: mode=overwrite on a batch-id-keyed path, so
    * checkpoint-replayed batches rewrite identical bytes.
    */
  def publish(kind: String, id: Long, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$store/$kind/v$id")

  /** Publish several mutually INDEPENDENT non-anchor kinds of one batch
    * concurrently (optimization guide §2.6: overlap independent jobs —
    * actions are only sequential because the caller invokes them
    * sequentially; each write's driver-side planning and task tail
    * otherwise idle the other's executors). The crash discipline is
    * unchanged: these are non-anchor kinds, the caller still publishes
    * the anchor strictly AFTER this returns, and a crash mid-call
    * leaves some non-anchor directories written with the previous
    * anchor version current — exactly the states the sequential form
    * could leave. Any publish failure propagates after all complete,
    * failing the batch for re-delivery like the sequential form: the
    * first one thrown, every other attached with `addSuppressed`.
    *
    * An interrupt of the caller (a stopping query) interrupts the other
    * publishes too, but every thread is still joined before this returns
    * — a writer left running could race the re-delivered batch's rewrite
    * of its kind — and the caller's interrupt flag is restored.
    */
  def publishConcurrently(id: Long, kinds: (String, DataFrame)*): Unit = {
    require(kinds.forall(_._1 != anchor),
      s"publishConcurrently: the anchor kind '$anchor' must publish " +
        "last, alone, via publish()")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def run(k: String, df: DataFrame): Unit =
      try publish(k, id, df)
      catch { case e: Throwable => errs.add(e): Unit }
    val threads = kinds.drop(1).map { case (k, df) =>
      val t = new Thread(() => run(k, df), s"graft-publish-$k-v$id")
      t.start(); t
    }
    kinds.headOption.foreach { case (k, df) => run(k, df) }
    // the caller's own publish may have consumed its interrupt
    var interrupted = errs.asScala.exists(isInterrupt)
    if (interrupted) threads.foreach(_.interrupt())
    threads.foreach { t =>
      while (t.isAlive)
        try t.join()
        catch { case _: InterruptedException =>
          interrupted = true
          threads.foreach(_.interrupt())
        }
    }
    if (interrupted) Thread.currentThread().interrupt()
    val failures = errs.asScala.toSeq
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  /** An interrupt, also one wrapped by Spark's job failure. */
  private def isInterrupt(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[InterruptedException])

  /** RETENTION: delete all but the newest `keepLast` versions of every
    * kind under the store (time-travel reads — `readLatestBefore` /
    * [[versions]] — reach only retained generations afterwards; this is
    * the lakehouse VACUUM contract, and without it a long-lived
    * maintained view accretes one full state copy per applied batch).
    * The retained set is decided by the ANCHOR kind's versions, and
    * non-anchor kinds are pruned FIRST, the anchor LAST — the mirror of
    * the publish discipline, so a crash mid-prune can only leave
    * orphaned non-anchor directories behind (re-pruned next call),
    * never an anchor version whose side kinds are already gone.
    * `keepLast` must be ≥ 1: the current version is never prunable.
    *
    * Single-writer contract (the same one publish already has): call
    * between batches or at the end of a handler, never concurrently
    * with another publish. A handler that prunes after its own publish
    * must keep ≥ 2 versions — a crash between that publish and the
    * streaming checkpoint's commit re-delivers the batch, whose replay
    * reads strictly-earlier state ([[readLatestBefore]]); keepLast = 1
    * would have swept exactly the version the replay folds into.
    *
    * STRAY sweep (round-12 advisory): `versionsOf` SKIPS unparseable
    * `v*` entries so a killed writer's leftover temp directory cannot
    * brick reads — but skipping alone means such strays accumulate
    * forever. Prune therefore also deletes v-prefixed entries that
    * fail to parse AND are older than `strayTtlMs` (default 10 min —
    * far beyond any single publish, so an in-flight writer's live
    * `_temporary` staging is never swept from under it).
    */
  def prune(keepLast: Int, strayTtlMs: Long = 10 * 60 * 1000L): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    if (!fs.exists(new Path(s"$store/$anchor"))) return
    val keep = versionsOf(anchor).sorted.takeRight(keepLast).toSet
    val kinds = fs.listStatus(new Path(store)).map(_.getPath.getName)
      .toSeq.filter(_ != anchor) :+ anchor // anchor pruned last
    val strayCutoff = System.currentTimeMillis() - strayTtlMs
    kinds.foreach { kind =>
      versionsOf(kind).filterNot(keep).foreach { v =>
        fs.delete(new Path(s"$store/$kind/v$v"), true): Unit
      }
      // orphaned unparseable strays, aged past the safety window
      val dir = new Path(s"$store/$kind")
      if (fs.exists(dir)) fs.listStatus(dir).toSeq
        .filter { st =>
          val n = st.getPath.getName
          n.startsWith("v") &&
            scala.util.Try(n.drop(1).toLong).isFailure &&
            st.getModificationTime < strayCutoff
        }
        .foreach(st => fs.delete(st.getPath, true): Unit)
    }
  }

  /** The retained version ids of the anchor kind, ascending — the
    * time-travel surface a reader can ask for.
    */
  def versions: Seq[Long] = versionsOf(anchor).sorted
}
