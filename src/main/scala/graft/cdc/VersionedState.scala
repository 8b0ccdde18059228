package graft.cdc

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import org.apache.hadoop.fs.{FileStatus, FileUtil, Options, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Versioned, idempotent micro-batch state publishing over any Hadoop
  * `FileSystem`.
  *
  * The streaming IVM gates maintain their view state OUTSIDE Spark's
  * streaming state store (the state must round-trip parquet losslessly
  * and be readable by the gate after the stream stops), keyed by the
  * micro-batch id: `foreachBatch` re-delivery after a checkpoint restart
  * overwrites the same `<kind>/v<batchId>` directories with identical
  * bytes, so a replayed batch is idempotent by construction.
  *
  * A version is visible only through its MANIFEST, `_manifest/v<id>`:
  * the batch's kinds, each with the schema it reads back as (all fields
  * nullable, as Spark's file source reports it). The manifest is
  * committed after every kind of the batch is written, under a
  * temporary name renamed into place with overwrite, so a crash before
  * the rename leaves the previous version current rather than exposing
  * a torn one, and a replayed batch renames the same bytes again.
  * Version discovery is one listing of the manifest directory, and a
  * committed kind is read with its recorded schema — no
  * schema-inference job.
  *
  * All path operations go through the Hadoop `FileSystem` resolved from
  * the store path itself — never `java.io.File` — so the same code runs
  * against `file:`, HDFS, or an object store. (A `java.io.File` listing
  * would silently return nothing on a non-local store, making every
  * batch re-bootstrap with wrong provenance markers and no error; that
  * exact bug shipped in round 8 and is spec-pinned in
  * `VersionedStateSpec` against a non-`file:` scheme.)
  *
  * Reference behavior mirrored: the sink-side consumer state layout of
  * `/root/reference/docs/architecture.md:49-66` (per-view materialized
  * state maintained from a change stream, resumable after restart).
  */
final class VersionedState(spark: SparkSession, store: String) {
  private val fs =
    new Path(store).getFileSystem(spark.sessionState.newHadoopConf())
  private val manifests = new Path(s"$store/_manifest")

  /** Highest committed version. None until the first commit. */
  def latestVersion: Option[Long] = latestVersionBefore(Long.MaxValue)

  /** The `v*` entries of `dir`, each with its version id — None for a
    * non-numeric name (a temp file or directory a killed writer left
    * behind), which reads SKIP rather than throw on: a single stray name
    * must not brick every read of an otherwise-healthy store. The ONE
    * place the v-naming is parsed; a missing `dir` has no entries.
    */
  private def entries(dir: Path): Seq[(FileStatus, Option[Long])] =
    try fs.listStatus(dir).toSeq.filter(_.getPath.getName.startsWith("v"))
      .map(st => st -> Try(st.getPath.getName.drop(1).toLong).toOption)
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Highest committed version STRICTLY below `bound`. The in-stream
    * read: a foreachBatch handler must fold batch `id` into the state
    * of versions < id, never `readLatest` — after a crash (or duplicate
    * delivery) between a completed commit of batch id and the
    * streaming checkpoint's commit of it, the batch is re-delivered and
    * an unbounded read would return the batch's OWN published state, so
    * a non-idempotent step (an aggregate delta) would double-apply.
    * The bounded read makes the replayed step byte-identical to the
    * first attempt. (The manifest-last commit covers the complementary
    * failure: a crash BETWEEN kinds of one batch.)
    */
  def latestVersionBefore(bound: Long): Option[Long] =
    versions.filter(_ < bound).lastOption

  /** The given kind at [[latestVersion]]. */
  def readLatest(kind: String): Option[DataFrame] =
    latestVersion.map(readAt(kind, _))

  /** The given kind at [[latestVersionBefore]]`(bound)` — the only safe
    * read INSIDE a foreachBatch handler (pass the batch id as bound).
    */
  def readLatestBefore(kind: String, bound: Long): Option[DataFrame] =
    latestVersionBefore(bound).map(readAt(kind, _))

  /** The given kind at an EXACT retained version — the time-travel
    * point read ([[versions]] lists what is retained). The caller asks
    * for a version it got from [[versions]]/[[latestVersionBefore]];
    * asking for a pruned or never-committed one fails loudly on its
    * missing manifest, which is the right failure for a reproducibility
    * surface (never silently substitute a neighbor generation).
    */
  def readAt(kind: String, version: Long): DataFrame = {
    val manifest = Using.resource(fs.open(new Path(manifests, s"v$version")))(
      in => DataType.fromJson(new String(in.readAllBytes(), UTF_8)))
    // a kind the manifest does not list fails here, naming those it does
    spark.read.schema(manifest.asInstanceOf[StructType](kind).dataType
      .asInstanceOf[StructType]).parquet(s"$store/$kind/v$version")
  }

  /** The given kind as batch `id` wrote it, if that write completed
    * (its `_SUCCESS` marker exists), committed or not — how a
    * re-delivered batch sees its first run. Costs one existence test
    * when it did not.
    */
  def publishedAt(kind: String, id: Long): Option[DataFrame] =
    Some(s"$store/$kind/v$id").filter(d => fs.exists(new Path(s"$d/_SUCCESS")))
      .map(spark.read.parquet(_))

  /** Write one kind and commit it as version `id`. */
  def publish(kind: String, id: Long, df: DataFrame): Unit =
    commit(id, write(id, kind -> df))

  /** Write `kinds` as batch `id` with mode=overwrite on their
    * batch-id-keyed paths (a replay rewrites identical bytes), all at
    * once: actions are only sequential because a caller invokes them
    * sequentially, and each write's driver-side planning and task tail
    * otherwise idle the other's executors. Nothing becomes visible
    * until [[commit]]; returns the kinds' manifest entries. Any failure
    * propagates after all complete, failing the batch for re-delivery:
    * the first one thrown, every other attached with `addSuppressed`.
    *
    * An interrupt of the caller (a stopping query) interrupts the other
    * writes too, but every thread is still joined before this returns —
    * a writer left running could race the re-delivered batch's rewrite
    * of its kind — and the caller's interrupt flag is restored.
    */
  def write(id: Long, kinds: (String, DataFrame)*): Seq[StructField] = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def run(k: String, df: DataFrame): Unit =
      try df.write.mode("overwrite").parquet(s"$store/$k/v$id")
      catch { case e: Throwable => errs.add(e): Unit }
    val threads = kinds.drop(1).map { case (k, df) =>
      val t = new Thread(() => run(k, df), s"graft-publish-$k-v$id")
      t.start(); t
    }
    kinds.headOption.foreach { case (k, df) => run(k, df) }
    // the caller's own write may have consumed its interrupt
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
    kinds.map { case (k, df) =>
      StructField(k, GraftSqlBridge.nullable(df.schema)) }
  }

  /** An interrupt, also one wrapped by Spark's job failure. */
  private def isInterrupt(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[InterruptedException])

  /** Make version `id` visible with the kinds [[write]] returned: the
    * manifest is written under a temporary name, then renamed over
    * `_manifest/v<id>` — the one commit point of a batch.
    */
  def commit(id: Long, manifest: Seq[StructField]): Unit = {
    val (tmp, dst) = (new Path(manifests, s"v$id.tmp"),
      new Path(manifests, s"v$id"))
    Using.resource(fs.create(tmp, true))(
      _.write(StructType(manifest).json.getBytes(UTF_8)))
    // a POSIX rename replaces an existing target; a store whose rename
    // refuses one (a replay's second commit) takes the explicit overwrite
    if (!fs.rename(tmp, dst))
      FileUtil.rename(fs, tmp, dst, Options.Rename.OVERWRITE)
  }

  /** RETENTION: retire all but the newest `keepLast` committed versions
    * (time-travel reads — `readLatestBefore` / [[versions]] — reach
    * only retained generations afterwards; this is the lakehouse VACUUM
    * contract, and without it a long-lived maintained view accretes one
    * full state copy per applied batch). A version is retired by
    * deleting its MANIFEST first and its kind directories after, so a
    * crash or a failed delete mid-prune can only leave unlisted
    * directories behind (swept next call), never a listed version whose
    * kinds are already gone. Every kind directory is swept by the same
    * retained set, which also reclaims kinds written by a batch that
    * never committed. `keepLast` must be ≥ 1: the current version is
    * never prunable.
    *
    * Single-writer contract (the same one a commit already has): call
    * between batches or at the end of a handler, never concurrently
    * with another write. A handler that prunes after its own commit
    * must keep ≥ 2 versions — a crash between that commit and the
    * streaming checkpoint's commit re-delivers the batch, whose replay
    * reads strictly-earlier state ([[readLatestBefore]]); keepLast = 1
    * would have swept exactly the version the replay folds into.
    *
    * STRAY sweep (round-12 advisory): reads SKIP unparseable `v*`
    * entries so a killed writer's leftover temp file or directory
    * cannot brick them — but skipping alone means such strays
    * accumulate forever. Prune therefore also deletes v-prefixed
    * entries that fail to parse AND are older than `strayTtlMs`
    * (default 10 min — far beyond any single write, so an in-flight
    * writer's live staging is never swept from under it).
    */
  def prune(keepLast: Int, strayTtlMs: Long = 10 * 60 * 1000L): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val committed = versions
    if (committed.isEmpty) return
    val keep = committed.takeRight(keepLast).toSet
    committed.filterNot(keep).foreach(v =>
      fs.delete(new Path(manifests, s"v$v"), false): Unit)
    val strayCutoff = System.currentTimeMillis() - strayTtlMs
    fs.listStatus(new Path(store)).filter(_.isDirectory).foreach { kind =>
      entries(kind.getPath).foreach {
        case (st, Some(v)) if !keep(v) => fs.delete(st.getPath, true)
        case (st, None) if st.getModificationTime < strayCutoff =>
          fs.delete(st.getPath, true)
        case _ => false
      }
    }
  }

  /** The committed version ids, ascending — the time-travel surface a
    * reader can ask for.
    */
  def versions: Seq[Long] = entries(manifests).flatMap(_._2).sorted
}
