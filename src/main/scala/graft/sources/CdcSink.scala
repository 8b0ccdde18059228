package graft.sources

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** V2 write path for the `graft-cdc` table: envelope JSON lines out, with
  * committed file names chosen to satisfy the SOURCE's contract.
  *
  * The tailing reader ([[CdcMicroBatchStream]]) requires file names that
  * are lexicographically monotone across log rolls. This sink is the
  * producing half of that contract: batch commits name files by a
  * zero-padded commit sequence (`b<seq>-p<partition>.jsonl`), streaming
  * commits by zero-padded epoch (`e<epoch>-p<partition>.jsonl`), so a
  * directory written by `graft-cdc` is always a valid directory to tail
  * with `graft-cdc` — pipeline output feeds the next pipeline's source.
  *
  * Commit protocol: task writers write to hidden `._tmp_*` files (hidden
  * names are invisible to the reader's listing); the DRIVER's commit
  * renames them to their final names only after every task succeeded.
  * STREAMING commits overwrite an existing destination (a re-executed
  * epoch republishes its deterministic names idempotently) and sweep any
  * stale parts a differently-partitioned failed attempt of the same epoch
  * left behind; BATCH commits treat an existing destination as a detected
  * conflict. Abort deletes the temporaries. A crash mid-rename leaves earlier files visible —
  * the same non-atomicity window as Hadoop's v2 file committer; the
  * monotone-name check on the reading side still holds because renames
  * happen in name order.
  *
  * Input contract: ONE string column (the serialized envelope — what any
  * `to_json` projection produces); or, with the `partitionColumn` option,
  * TWO string columns (routing key + payload, the
  * [[graft.cdc.CdcPipeline.routedValues]] shape) fanned out into one
  * tailable subdirectory per key — see [[CdcWrite]].
  */
class CdcWriteBuilder(dir: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = {
    val partCol = Option(info.options.get("partitionColumn"))
    new CdcWrite(dir, info.schema(), doTruncate, partCol, info.queryId())
  }
}

/** @param partitionColumn when set (e.g. `source_table`, what
  *   [[graft.cdc.CdcPipeline.routedValues]] emits), rows fan out into
  *   one SUBDIRECTORY per value — the reference's one-topic-per-table
  *   layout (`docs/setup-guide.md:33-35`) — and each subdirectory is
  *   itself a valid `graft-cdc` tail source (same monotone names). The
  *   input then needs exactly two string columns: the partition column
  *   and the payload line.
  */
class CdcWrite(dir: String, schema: StructType, truncate: Boolean,
    partitionColumn: Option[String] = None,
    queryId: String = "") extends Write {
  partitionColumn match {
    case None =>
      require(schema.length == 1 && schema.head.dataType == StringType,
        s"graft-cdc sink expects exactly one STRING column (the serialized " +
          s"envelope line); got ${schema.simpleString}")
    case Some(pc) =>
      require(schema.length == 2 &&
          schema.fields.forall(_.dataType == StringType) &&
          schema.fieldNames.contains(pc),
        s"graft-cdc sink with partitionColumn='$pc' expects exactly two " +
          s"STRING columns, one named '$pc'; got ${schema.simpleString}")
  }
  // payload = the non-partition column (position-independent)
  private val partIdx = partitionColumn.map(schema.fieldNames.indexOf(_))
  private val valueIdx = partIdx.map(i => 1 - i).getOrElse(0)
  // capture the session Hadoop conf on the driver; factories ship it to
  // executor-side writers (same rationale as the read path)
  private val confMap = CdcDataSource.hadoopConfMap()
  override def toBatch: BatchWrite =
    new CdcBatchWrite(dir, truncate, confMap, valueIdx, partIdx)
  override def toStreaming: StreamingWrite = {
    // SupportsTruncate exists for batch overwrite; accepting complete
    // output mode here would re-publish the FULL result every epoch into
    // an append-only log — every row duplicated once per trigger
    if (truncate) throw new UnsupportedOperationException(
      "graft-cdc sink: complete output mode is not supported — the log is " +
        "append-only; use append (or update via foreachBatch upsert)")
    new CdcStreamingWrite(dir, confMap, valueIdx, partIdx, queryId)
  }
}

case class CdcFilePart(tmpPath: String, finalName: String, rows: Long)

case class CdcCommitMessage(parts: Seq[CdcFilePart])
    extends WriterCommitMessage

object CdcSinkFiles {
  /** Driver-side FS handle: the session's Hadoop conf (commit/publish,
    * truncate, and sequence discovery all run on the driver).
    */
  def fs(dir: String): FileSystem = new Path(dir).getFileSystem(
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())

  /** Driver-side publish: rename each temp to its final name, in name
    * order. Final names may carry one subdirectory level (per-table
    * fan-out).
    *
    * `overwrite` is set ONLY by streaming commits: a replayed epoch
    * redelivers the same deterministic names and must land idempotently.
    * Batch commits pass false, so two concurrent batch writers racing to
    * the same sequence DETECT the conflict (IOException on the existing
    * destination) instead of silently clobbering each other's rows.
    */
  def publish(dir: String, messages: Array[WriterCommitMessage],
      overwrite: Boolean): Unit = {
    val f = fs(dir)
    f.mkdirs(new Path(dir))
    messages.collect { case m: CdcCommitMessage => m }
      .flatMap(_.parts)
      .sortBy(_.finalName)
      .foreach { m =>
        val dst = new Path(dir, m.finalName)
        f.mkdirs(dst.getParent)
        if (f.exists(dst)) {
          if (overwrite) f.delete(dst, false)
          else throw new java.io.IOException(
            s"graft-cdc sink: $dst already exists — concurrent writers " +
              "into one log directory are not coordinated; use separate " +
              "directories or a single writer")
        }
        if (!f.rename(new Path(m.tmpPath), dst))
          throw new java.io.IOException(
            s"graft-cdc sink: rename ${m.tmpPath} -> $dst failed")
      }
  }

  def discard(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: CdcCommitMessage => m }
      .flatMap(_.parts).foreach { m =>
        val p = new Path(m.tmpPath)
        val f = p.getFileSystem(
          org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
        if (f.exists(p)) f.delete(p, false)
      }

  private def hiddenName(n: String): Boolean =
    n.startsWith("_") || n.startsWith(".")

  /** Committed entries at the top level: non-hidden files plus ALL
    * directories (fan-out keys like `_unrouted` legitimately start with
    * an underscore; [[CdcLineWriter.sanitize]] guarantees no directory
    * ever starts with a dot, so nothing here collides with temp names).
    */
  def committed(dir: String): Seq[Path] = {
    val f = fs(dir)
    val p = new Path(dir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq
      .filter(st => st.isDirectory || !hiddenName(st.getPath.getName))
      .map(_.getPath)
  }

  /** Truncate = delete committed DATA while preserving the in-flight
    * hidden temporaries of the batch being committed (a truncate runs
    * inside commit(), AFTER tasks wrote their temps — deleting fan-out
    * subdirectories recursively would destroy the very files publish is
    * about to rename).
    */
  def clearCommitted(dir: String): Unit = {
    val f = fs(dir)
    committed(dir).foreach { q =>
      if (f.getFileStatus(q).isFile) f.delete(q, false)
      else f.listStatus(q).toSeq
        .filter(st => st.isFile && !hiddenName(st.getPath.getName))
        .foreach(st => f.delete(st.getPath, false))
    }
  }

  /** Delete hidden task temporaries under `dir` (top level and one
    * fan-out level) whose names start with `prefix`. Called AFTER a
    * successful publish: every temp of the committing batch/epoch was
    * just renamed away, so anything still matching is orphaned debris —
    * a failed prior attempt whose commit message never reached the
    * driver's abort (the V2 window: abort(messages) only sees messages
    * handled before the failure), or a speculative duplicate whose rows
    * the winner already committed. Hidden names are invisible to every
    * reader, so the leak is storage-only — but self-healing beats
    * documentation. Batch commits sweep all temps (batches into one dir
    * serialize — concurrent writers are refused at publish); streaming
    * commits sweep only their own epoch's prefix so a pipelined next
    * epoch's in-flight temps are never touched.
    */
  def sweepOrphanTemps(dir: String, prefix: String = "._tmp_"): Unit = {
    val f = fs(dir)
    val p = new Path(dir)
    if (!f.exists(p)) return
    def sweep(d: Path): Unit = f.listStatus(d).foreach { st =>
      if (st.isDirectory && !st.getPath.getName.startsWith("."))
        sweep(st.getPath)
      else if (st.isFile && st.getPath.getName.startsWith(prefix))
        f.delete(st.getPath, false)
    }
    sweep(p)
  }

  /** Data-file NAMES one level deep (top-level files plus the files of
    * fan-out subdirectories) — the namespace the batch commit sequence
    * must be monotone over.
    */
  def committedNames(dir: String): Seq[String] = dataFiles(dir).map {
    case (_, rel) => rel.substring(rel.lastIndexOf('/') + 1)
  }

  /** Committed data files one level deep, as (absolute path, name
    * relative to `dir`) — the sink's full publish namespace.
    */
  def dataFiles(dir: String): Seq[(Path, String)] = {
    val f = fs(dir)
    committed(dir).flatMap { q =>
      if (f.getFileStatus(q).isFile) Seq((q, q.getName))
      else f.listStatus(q).toSeq.filter(_.isFile)
        .filterNot(st => hiddenName(st.getPath.getName))
        .map(st => (st.getPath, s"${q.getName}/${st.getPath.getName}"))
    }
  }
}

class CdcBatchWrite(dir: String, truncate: Boolean,
    confMap: Map[String, String], valueIdx: Int, partIdx: Option[Int])
    extends BatchWrite {
  // one batch = one commit sequence; files of earlier commits into the
  // same dir sort first because the sequence is the max existing +1
  // (scanned one subdirectory deep so fan-out commits count too)
  private val seq: Long = {
    val names = CdcSinkFiles.committedNames(dir)
    val existing = names
      .filter(_.startsWith("b")).map(_.takeWhile(_ != '-').drop(1))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
    val next = existing.maxOption.map(_ + 1).getOrElse(0L)
    // batch names (b…) sort BEFORE streaming epoch names (e…): appending
    // a batch into a streaming-written log would materialize files behind
    // any tailer's committed boundary — permanent wedge. Refuse loudly.
    if (!truncate && names.exists(_ > f"b$next%012d"))
      throw new IllegalStateException(
        s"graft-cdc sink: batch append into '$dir' would commit names " +
          s"sorting before existing files (${names.max}); a tailing " +
          "reader's committed boundary would be violated. Write to a " +
          "fresh directory, or use mode(\"overwrite\").")
    next
  }
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new CdcWriterFactory(dir, f"b$seq%012d", confMap, valueIdx, partIdx)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // clearCommitted, not a recursive delete: the new batch's hidden
    // temps already sit INSIDE fan-out subdirectories at this point
    if (truncate) CdcSinkFiles.clearCommitted(dir)
    CdcSinkFiles.publish(dir, messages, overwrite = false)
    CdcSinkFiles.sweepOrphanTemps(dir)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    CdcSinkFiles.discard(messages)
}

class CdcStreamingWrite(dir: String, confMap: Map[String, String],
    valueIdx: Int, partIdx: Option[Int], queryId: String = "")
    extends StreamingWrite {
  /** Highest epoch already committed in the directory, captured at query
    * start. A crash-replay from the SAME checkpoint recommits exactly
    * this epoch (the sink published, the engine's WAL didn't); anything
    * LOWER means a fresh checkpoint restarted epoch numbering over an
    * existing log, where overwrite would destroy committed data that
    * tailers past their boundary will never re-read — refuse loudly.
    */
  private val replayFloor: Long = CdcSinkFiles.committedNames(dir)
    .filter(n => n.startsWith("e") && n.contains('-'))
    .flatMap(n => scala.util.Try(n.takeWhile(_ != '-').drop(1).toLong).toOption)
    .maxOption.getOrElse(-1L)

  /** The epoch-number floor alone cannot catch one case: a DIFFERENT
    * query (fresh checkpoint, epochs restarting at 0) meeting a log
    * whose max committed epoch is ALSO 0 — `0 < 0` never fires. The
    * writer identity marker (`_writer_query`, hidden from listings)
    * closes it: same queryId → genuine replay, overwrite allowed;
    * different queryId → any epoch <= floor is refused.
    */
  private val markerPath = new Path(dir, "_writer_query")
  private val priorQueryId: Option[String] = {
    val f = CdcSinkFiles.fs(dir)
    if (!f.exists(markerPath)) None
    else {
      val in = f.open(markerPath)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim)
      finally in.close()
    }
  }

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new CdcStreamingWriterFactory(dir, confMap, valueIdx, partIdx)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val sameWriter = priorQueryId.forall(_ == queryId)
    if (epochId < replayFloor || (!sameWriter && epochId <= replayFloor))
      throw new IllegalStateException(
        s"graft-cdc sink: epoch $epochId would overwrite already-committed " +
          s"epoch files (directory has commits up to epoch $replayFloor" +
          priorQueryId.filterNot(_ == queryId)
            .map(q => s", written by query $q").getOrElse("") +
          ") — a query with a FRESH checkpoint is writing into an existing " +
          "log. Point it at a fresh directory, or resume from the original " +
          "checkpoint.")
    CdcSinkFiles.publish(dir, messages, overwrite = true)
    // a failed attempt of this epoch may have committed MORE parts than
    // this replay produced (different partitioning after restart); any
    // same-epoch file not republished is stale and would duplicate rows
    val published = messages.collect { case m: CdcCommitMessage => m }
      .flatMap(_.parts).map(_.finalName).toSet
    val prefix = f"e$epochId%012d-"
    val f = CdcSinkFiles.fs(dir)
    CdcSinkFiles.dataFiles(dir).foreach { case (path, relName) =>
      if (relName.substring(relName.lastIndexOf('/') + 1).startsWith(prefix) &&
          !published.contains(relName))
        f.delete(path, false)
    }
    CdcSinkFiles.sweepOrphanTemps(dir, f"._tmp_e$epochId%012d-")
    if (queryId.nonEmpty && !priorQueryId.contains(queryId)) {
      val out = f.create(markerPath, true)
      try out.write(queryId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    CdcSinkFiles.discard(messages)
}

class CdcWriterFactory(dir: String, prefix: String,
    confMap: Map[String, String], valueIdx: Int, partIdx: Option[Int])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new CdcLineWriter(dir, f"$prefix-p$partitionId%05d.jsonl", confMap,
      valueIdx, partIdx)
}

class CdcStreamingWriterFactory(dir: String, confMap: Map[String, String],
    valueIdx: Int, partIdx: Option[Int]) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new CdcLineWriter(dir, f"e$epochId%012d-p$partitionId%05d.jsonl", confMap,
      valueIdx, partIdx)
}

/** Executor-side line writer: hidden temp file(s), renamed by the
  * driver's commit. The final name is deterministic (commit-seq/epoch +
  * partition, plus the fan-out subdirectory when `partIdx` is set), the
  * temp name is not (speculative duplicates of one task must not
  * collide). With fan-out, one temp file is kept open per routing key
  * seen by this task — bounded by the table count, the same working set
  * as any partitioned file sink.
  */
class CdcLineWriter(dir: String, finalBase: String,
    confMap: Map[String, String] = Map.empty,
    valueIdx: Int = 0, partIdx: Option[Int] = None)
    extends DataWriter[InternalRow] {
  private val f = new Path(dir).getFileSystem(
    if (confMap.isEmpty) new Configuration()
    else CdcDataSource.confFrom(confMap))

  private final class Part(subdir: Option[String]) {
    val finalName: String = subdir.map(s => s"$s/$finalBase").getOrElse(finalBase)
    val tmp = new Path(dir, subdir.map(_ + "/").getOrElse("") +
      s"._tmp_${finalBase}_${UUID.randomUUID().toString.take(8)}")
    f.mkdirs(tmp.getParent)
    // raw byte stream, not a Writer: encoding UTF8String through a JVM
    // String would substitute U+FFFD for invalid UTF-8 — the P18
    // byte-faithful contract forbids mutating the payload
    val out = new java.io.BufferedOutputStream(f.create(tmp, true), 64 * 1024)
    var rows = 0L
  }
  private val parts = scala.collection.mutable.LinkedHashMap[String, Part]()

  /** Routing keys become directory names. A key that is already safe
    * (charset-clean, no leading dot) is used VERBATIM — `_unrouted`
    * stays `_unrouted`. Anything else is rewritten (unsafe chars and
    * leading dots replaced — `..` must never escape the sink dir, and
    * dot-prefixed names would collide with hidden temp conventions) and
    * suffixed with a short hash of the RAW key, so two distinct keys
    * can never silently merge into one log (`order items` vs
    * `order_items`).
    */
  private def sanitize(raw: String): String = {
    val s0 = raw.replaceAll("[^A-Za-z0-9._-]", "_").replaceAll("^\\.+", "_")
    // empty keys fold into the reserved convention bucket (hash-suffixed
    // below, since raw != safe, so they cannot shadow real null-key rows)
    val safe = if (s0.isEmpty) "_unrouted" else s0
    if (safe == raw) safe
    else {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(raw.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map("%02x".format(_)).mkString
      s"$safe-$h"
    }
  }

  /** [[sanitize]] per distinct raw key: a task sees few routing keys but
    * one per row.
    */
  private val safeKeys = new java.util.HashMap[UTF8String, String]()

  override def write(record: InternalRow): Unit = {
    // a JSON-lines log cannot represent a null payload, and silently
    // dropping CDC records is the worst failure mode — fail the task
    // (the built-in text sink throws on null too); encode tombstones
    // upstream if they must flow
    if (record.isNullAt(valueIdx)) throw new IllegalArgumentException(
      "graft-cdc sink: null payload value — encode or filter null " +
        "(tombstone) records before the sink; refusing to drop silently")
    val key = partIdx match {
      case None => ""
      case Some(i) =>
        // null key joins the documented "_unrouted" convention bucket
        // (what routedValues emits for unroutable records); that name is
        // reserved — see sanitize
        if (record.isNullAt(i)) "_unrouted"
        else {
          val raw = record.getUTF8String(i)
          val hit = safeKeys.get(raw)
          if (hit != null) hit
          else {
            val safe = sanitize(raw.toString)
            // copy: the key may point into a row buffer the caller reuses
            safeKeys.put(raw.copy(), safe)
            safe
          }
        }
    }
    val p = parts.getOrElseUpdate(key,
      new Part(if (partIdx.isEmpty) None else Some(key)))
    p.out.write(record.getUTF8String(valueIdx).getBytes)
    p.out.write('\n')
    p.rows += 1
  }
  override def commit(): WriterCommitMessage = {
    parts.values.foreach(_.out.close())
    CdcCommitMessage(parts.values
      .map(p => CdcFilePart(p.tmp.toString, p.finalName, p.rows)).toSeq)
  }
  override def abort(): Unit = parts.values.foreach { p =>
    p.out.close()
    if (f.exists(p.tmp)) f.delete(p.tmp, false)
  }
  override def close(): Unit = ()
}
