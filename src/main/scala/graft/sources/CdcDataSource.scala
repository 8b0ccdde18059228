package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{GraftSqlJsonBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.CdcEnvelope

/** DataSource V2 CDC table: the reference's Debezium source connector
  * (`kubernetes/manifests/debezium-postgres-connector.yaml:4-28`) surfaced
  * as a first-class Spark table — `spark.read.format("graft-cdc")` /
  * `spark.readStream.format("graft-cdc")` over a directory of JSON-lines
  * envelope files (the transport CdcSource's file variant uses, and the
  * layout a log-rolling collector writes).
  *
  * What the V2 integration buys over `read.text` + [[CdcEnvelope.parse]]:
  *  - the TYPED envelope schema is the table schema — consumers see
  *    `before`/`after`/`source`/`op`/`ts_ms` columns directly, plus the
  *    raw `value` line for the P18 byte-faithful passthrough contract;
  *  - in BATCH scans, column pruning reaches the parser
  *    ([[SupportsPushDownRequiredColumns]] + Spark's nested-schema
  *    pruning): `select(op)` parses ONLY `op` out of each line — at 100 TB
  *    the difference between tokenizing a field and materializing the full
  *    nested envelope per row. Micro-batch scans are NOT pruned: Spark
  *    builds them from the full table schema, so a streaming reader that
  *    needs only the raw line passes [[CdcDataSource.ValueOnlySchema]] as
  *    its schema (as [[graft.cdc.CdcPipeline.startV2]] does) and no line
  *    is parsed at all;
  *  - one [[InputPartition]] per log file: scan parallelism = file count,
  *    the natural parallel unit of a rolled change log;
  *  - a [[MicroBatchStream]] whose offset is the committed prefix of the
  *    name-sorted file list — checkpointed exactly-once tailing with a
  *    LOUD failure (not silent skip) if a file materializes out of order.
  *
  * Parsing delegates to Spark's own Jackson stack via
  * [[GraftSqlJsonBridge]], so PERMISSIVE semantics and type coercions are
  * bit-identical to `from_json` — proven by the parity spec
  * (`CdcDsv2SourceSpec`) and the `q_cdc_dsv2_scan` DuckDB-oracle gate.
  *
  * Options: `path` (required) — envelope directory; `payloadDdl` — DDL of
  * the per-table row image, default the reference `customers` payload.
  */
class CdcTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-cdc"
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdcDataSource.schemaFor(options)
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CdcTable(schema, new CaseInsensitiveStringMap(properties))
}

object CdcDataSource {
  /** Raw-line-only table schema: a scan over it splits lines and parses
    * nothing. The way a streaming reader opts out of the typed envelope,
    * since micro-batch scans get no column pruning.
    */
  val ValueOnlySchema: StructType = StructType(Seq(StructField("value", StringType)))

  /** Table schema = raw line + flattened envelope fields. */
  def schemaFor(options: CaseInsensitiveStringMap): StructType = {
    val payload = Option(options.get("payloadDdl"))
      .map(ddl => StructType.fromDDL(ddl))
      .getOrElse(CdcEnvelope.customersPayload)
    StructType(
      StructField("value", StringType) +: CdcEnvelope.schema(payload).fields)
  }

  def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-cdc: 'path' option is required")
    p
  }

  /** Snapshot of the session's effective Hadoop conf as a plain map —
    * the serializable form shipped to executor-side readers/writers.
    * Rebuilding from `new Configuration()` on the executor would drop
    * session-scoped filesystem settings (object-store credentials,
    * endpoints, replication overrides), which only shows up off-laptop.
    */
  def hadoopConfMap(): Map[String, String] = {
    val c = SparkSession.active.sessionState.newHadoopConf()
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
  }

  def confFrom(m: Map[String, String]): Configuration = {
    val c = new Configuration(false)
    m.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Driver-side listing: data files under `dir`, sorted by NAME. The
    * micro-batch offset is a count into this ordering, so file names must
    * be lexicographically monotone across log rolls (zero-padded counters,
    * the standard collector layout); [[CdcMicroBatchStream]] verifies the
    * committed prefix on every batch and fails loudly on violation.
    * Hidden/marker files (`_SUCCESS`, `.crc`, …) are skipped, matching
    * Spark's file-source convention.
    */
  def listFiles(dir: String): Seq[String] = listWithSizes(dir).map(_._1)

  /** Listing with byte sizes, for [[CdcScan.estimateStatistics]]. */
  def listWithSizes(dir: String): Seq[(String, Long)] = {
    val hconf = SparkSession.active.sessionState.newHadoopConf()
    val p = new Path(dir)
    val fs = p.getFileSystem(hconf)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .map(st => (st.getPath.toString, st.getLen))
      .sortBy(_._1)
  }
}

class CdcTable(tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-cdc:${CdcDataSource.pathOf(options)}"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE).asJava
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder = {
    // runtime read options (readStream.option) override table options
    val maxFiles = Option(opts.get("maxFilesPerTrigger"))
      .orElse(Option(options.get("maxFilesPerTrigger"))).map(_.toInt)
    maxFiles.foreach(n => require(n > 0,
      s"graft-cdc: maxFilesPerTrigger must be positive, got $n"))
    new CdcScanBuilder(tableSchema, CdcDataSource.pathOf(options), maxFiles)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new CdcWriteBuilder(CdcDataSource.pathOf(options), info)
}

class CdcScanBuilder(full: StructType, path: String,
    maxFilesPerTrigger: Option[Int] = None)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  // Spark hands back a (possibly nested-pruned) subset of `full`; it
  // becomes the parser schema, so unrequested fields are never built
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Push row-skip predicates into the Jackson parse (JacksonParser's
    * native filter support): a line failing a pushed filter never
    * materializes a row. EVERY filter is also returned as residual —
    * Spark re-applies them post-scan — so pushdown can only skip work,
    * never change results. Pushable = null-intolerant comparisons
    * (false on a null input, matching the residual's treatment of the
    * PERMISSIVE all-null row for malformed lines) over TOP-LEVEL parsed
    * fields (JsonFilters' reference model; `value` is never parsed).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val topLevel = full.fieldNames.toSet - "value"
    def pushable(f: Filter): Boolean = (f match {
      case _: EqualTo | _: In | _: GreaterThan | _: GreaterThanOrEqual |
           _: LessThan | _: LessThanOrEqual | _: StringStartsWith |
           _: StringEndsWith | _: StringContains => true
      case _ => false
    }) && f.references.forall(topLevel.contains)
    pushed = filters.filter(pushable)
    filters // all residual: correctness never depends on the parser skip
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    // capture session TZ on the driver at plan time; readers are remote
    val tz = SparkSession.active.sessionState.conf.sessionLocalTimeZone
    new CdcScan(path, required, tz, pushed.toSeq, maxFilesPerTrigger)
  }
}

class CdcScan(path: String, required: StructType, timeZoneId: String,
    pushed: Seq[Filter], maxFilesPerTrigger: Option[Int] = None)
    extends Scan with SupportsReportStatistics {
  // ONE listing snapshot per scan, shared by estimateStatistics (which
  // the optimizer may consult more than once) and batch planning — both
  // for LIST cost and so stats and partitions describe the same files
  private lazy val snapshot: Seq[(String, Long)] =
    CdcDataSource.listWithSizes(path)

  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-cdc path=$path readSchema=${required.simpleString} " +
      s"PushedFilters=${pushed.mkString("[", ", ", "]")}"
  override def toBatch: Batch =
    new CdcBatch(snapshot.map(_._1), required, timeZoneId, pushed)
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CdcMicroBatchStream(path, required, timeZoneId, pushed,
      maxFilesPerTrigger)

  /** True on-disk bytes from the listing, so Catalyst sizes the relation
    * honestly (a small envelope table becomes broadcast-joinable instead
    * of defaulting to the "unknown = huge" conservative estimate).
    */
  override def estimateStatistics(): Statistics = {
    val bytes = snapshot.map(_._2).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }
}

class CdcBatch(files: Seq[String], required: StructType, timeZoneId: String,
    pushed: Seq[Filter]) extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => CdcInputPartition(f): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new CdcReaderFactory(required.json, timeZoneId, pushed,
      CdcDataSource.hadoopConfMap())
}

/** One partition per log file — the rolled-log's natural parallel unit. */
case class CdcInputPartition(file: String) extends InputPartition

/** Schema travels as its JSON form: self-contained serialization, rebuilt
  * once per reader on the executor.
  */
class CdcReaderFactory(requiredJson: String, timeZoneId: String,
    pushed: Seq[Filter], hadoopConf: Map[String, String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new CdcPartitionReader(
      partition.asInstanceOf[CdcInputPartition].file,
      DataType.fromJson(requiredJson).asInstanceOf[StructType], timeZoneId,
      pushed, hadoopConf)
}

class CdcPartitionReader(file: String, required: StructType, timeZoneId: String,
    pushed: Seq[Filter], hadoopConf: Map[String, String])
    extends PartitionReader[InternalRow] {
  private val valueIdx = required.fieldNames.indexOf("value")
  /** Envelope fields actually requested — the parser materializes ONLY
    * these (column pruning reaching the tokenizer).
    */
  private val jsonSchema = StructType(required.filterNot(_.name == "value"))
  // filters may reference only fields present in jsonSchema (Spark keeps
  // filter columns in the required schema for the residual evaluation)
  private val parse =
    GraftSqlJsonBridge.permissiveLineParser(jsonSchema, timeZoneId,
      pushed.filter(_.references.forall(jsonSchema.fieldNames.contains)))
  private val skipOnEmpty = pushed.nonEmpty
  private val stream = {
    val p = new Path(file)
    // executor-side: the driver's session Hadoop conf, shipped as a map
    val conf = CdcDataSource.confFrom(hadoopConf)
    val raw = p.getFileSystem(conf).open(p)
    // rolled logs are routinely compressed (.gz etc.); read.text handles
    // them via the Hadoop codec factory, so parity requires we do too
    val codec =
      new org.apache.hadoop.io.compress.CompressionCodecFactory(conf).getCodec(p)
    if (codec == null) raw else codec.createInputStream(raw)
  }
  private val lines = new LineSplitter(stream)
  private var current: InternalRow = _

  @scala.annotation.tailrec
  final override def next(): Boolean = {
    val line = lines.next()
    if (line == null) false
    // blank lines flow through like any other: the read.text +
    // CdcEnvelope.parse baseline emits them as empty-value/null-envelope
    // rows (the P18 byte-faithful contract), and parity is the contract
    else assemble(UTF8String.fromBytes(line)) match {
      case Some(row) => current = row; true
      case None => next() // well-formed line skipped by a pushed filter
    }
  }

  private def assemble(line: UTF8String): Option[InternalRow] = {
    val parsed =
      if (jsonSchema.isEmpty) None
      else {
        val it = parse(line)
        if (it.hasNext) Some(it.next())
        else if (skipOnEmpty) return None
        // no pushed filters: an empty parse (e.g. a literal `null` root)
        // still emits the raw line with a null typed view, like from_json
        else None
      }
    val out = new GenericInternalRow(required.length)
    var i = 0
    var j = 0
    while (i < required.length) {
      if (i == valueIdx) out.update(i, line)
      else {
        out.update(i,
          parsed.map(_.get(j, jsonSchema(j).dataType)).orNull)
        j += 1
      }
      i += 1
    }
    Some(out)
  }

  override def get(): InternalRow = current
  override def close(): Unit = stream.close()
}

/** Splits a byte stream into lines as RAW BYTES (terminator stripped),
  * scanning a reused buffer in bulk. Terminators match Hadoop's default
  * LineReader — the `read.text` baseline the parity contract cites —
  * exactly: `\n`, `\r\n`, AND a lone `\r` all end a line (a CR-terminated
  * payload must split the same way in both readers), including a `\r`
  * that ends one buffer fill and an `\n` that starts the next. Blank lines
  * come through as empty arrays, an unterminated last line as itself.
  * No String round-trip: decoding to java String would substitute U+FFFD
  * for invalid UTF-8 — silent payload corruption under the P18
  * byte-faithful contract, which read.text (UTF8String straight over the
  * bytes) does not do.
  */
private[sources] final class LineSplitter(in: java.io.InputStream,
    bufferBytes: Int = LineSplitter.BufferBytes) {
  require(bufferBytes > 0, s"bufferBytes must be positive, got $bufferBytes")
  private val buf = new Array[Byte](bufferBytes)
  private var pos = 0
  private var end = 0
  // the head of a line that spans buffer fills
  private var carry = new Array[Byte](256)
  private var carryLen = 0

  /** Refills the buffer completely unless the stream ends first, so fill
    * boundaries sit at fixed multiples of the buffer size whatever read
    * sizes the stream returns. False at end of stream.
    */
  private def fill(): Boolean = {
    pos = 0
    end = in.readNBytes(buf, 0, buf.length)
    end > 0
  }

  private def append(until: Int): Unit = {
    val n = until - pos
    if (carryLen + n > carry.length)
      carry = java.util.Arrays.copyOf(carry, math.max(2 * carry.length, carryLen + n))
    System.arraycopy(buf, pos, carry, carryLen, n)
    carryLen += n
  }

  /** Index of the first terminator at or after `pos`, else `end`. */
  private def terminator(): Int = {
    var i = pos
    while (i < end && buf(i) != '\n' && buf(i) != '\r') i += 1
    i
  }

  /** Next line, or null at end of stream. */
  def next(): Array[Byte] = {
    if (pos == end && !fill()) return null
    carryLen = 0
    var i = terminator()
    while (i == end) {
      append(end)
      // an unterminated last line
      if (!fill()) return java.util.Arrays.copyOf(carry, carryLen)
      i = terminator()
    }
    val cr = buf(i) == '\r'
    val line =
      if (carryLen == 0) java.util.Arrays.copyOfRange(buf, pos, i)
      else { append(i); java.util.Arrays.copyOf(carry, carryLen) }
    pos = i + 1
    // swallow the LF of a CRLF pair, also across a refill; a lone CR
    // terminates by itself
    if (cr && (pos < end || fill()) && buf(pos) == '\n') pos += 1
    line
  }
}

private[sources] object LineSplitter {
  val BufferBytes: Int = 64 * 1024
}

/** Stream position = committed prefix of the name-sorted file list. Two
  * integrity witnesses ride along so violations of the name-monotone
  * precondition are DETECTED instead of corrupting the stream: the
  * boundary file name (catches a file sorting before/after the
  * boundary), and an order-sensitive hash over EVERY name in the prefix
  * (catches a delete+insert INSIDE the committed range, which keeps the
  * count and boundary identical while substituting files — the one
  * corruption a boundary check alone cannot see).
  *
  * Witnesses record file names RELATIVE to the source directory (never
  * absolute URIs), so a restart that spells the same directory
  * differently — `file:/x` vs `/x`, a new NameNode alias, a remounted
  * prefix — validates cleanly against an unchanged log instead of
  * tripping the integrity check on a path-normalization artifact.
  * Offsets from older checkpoints (absolute-path `lastFile`, detected
  * by a `/` in the name) still validate: the check compares and hashes
  * whichever form the offset recorded. Offsets without the hash also
  * deserialize (the hash check is skipped for them).
  */
case class CdcOffset(fileCount: Int, lastFile: String,
    prefixHash: Option[Long] = None) extends Offset {
  override def json(): String = {
    val m = new ObjectMapper()
    val node = m.createObjectNode()
    node.put("fileCount", fileCount)
    node.put("lastFile", lastFile)
    prefixHash.foreach(h => node.put("prefixHash", h))
    m.writeValueAsString(node)
  }
}

object CdcOffset {
  def fromJson(json: String): CdcOffset = {
    val node = new ObjectMapper().readTree(json)
    CdcOffset(node.get("fileCount").asInt(), node.get("lastFile").asText(),
      Option(node.get("prefixHash")).map(_.asLong()))
  }

  /** Order-sensitive FNV-style fold over file names (String.hashCode is
    * specified, so this is stable across JVMs and restarts).
    */
  def hashNames(names: Seq[String]): Long =
    names.foldLeft(-3750763034362895579L)(
      (h, n) => (h ^ n.hashCode.toLong) * 1099511628211L)
}

class CdcMicroBatchStream(dir: String, required: StructType,
    timeZoneId: String, pushed: Seq[Filter] = Nil,
    maxFilesPerTrigger: Option[Int] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  // driver-side one-time captures: the conf snapshot and directory
  // listing are per-trigger costs otherwise (3 LISTs per micro-batch is
  // the dominant object-store expense of a file-tailing source)
  private lazy val confMap = CdcDataSource.hadoopConfMap()
  @volatile private var cachedListing: Seq[String] = null

  /** Fresh listing, cached for reuse within the trigger; a cached
    * listing is reused only when it already covers `minLength` files
    * (boundary validation still runs against whatever is returned, so a
    * stale cache can fail loud but never silently misread).
    */
  private def listing(minLength: Int = Int.MaxValue): Seq[String] = {
    val c = cachedListing
    if (c != null && c.length >= minLength) c
    else {
      val fresh = CdcDataSource.listFiles(dir)
      cachedListing = fresh
      fresh
    }
  }

  /** Directory-relative file name — the offset's path-spelling-invariant
    * witness form (listings are non-recursive, so the base name is the
    * full relative path).
    */
  private def nameOf(f: String): String = new Path(f).getName

  override def initialOffset(): Offset = CdcOffset(0, "", Some(CdcOffset.hashNames(Nil)))

  override def latestOffset(): Offset = {
    val files = listing()
    CdcOffset(files.length, files.lastOption.map(nameOf).getOrElse(""),
      Some(CdcOffset.hashNames(files.map(nameOf))))
  }

  /** Admission control: bound each micro-batch to `maxFilesPerTrigger`
    * new files. Without a cap, a stream recovering from downtime would
    * take EVERY backlogged file in one batch — at scale, an unbounded
    * batch is an OOM/straggler machine, and steady small batches keep
    * end-to-end latency predictable.
    */
  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  /** `Trigger.AvailableNow`'s end: the listing's file count when the run
    * was prepared. Batches never read past it, and the read limit paces
    * them up to it, so files that land mid-run wait for the next run.
    */
  @volatile private var availableNowEnd: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(CdcDataSource.listFiles(dir).length)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[CdcOffset]
    // head of each trigger: always a FRESH listing (cache refreshed here,
    // reused by reportLatestOffset/planInputPartitions in the same trigger)
    cachedListing = null
    val files = listing()
    val head = availableNowEnd.fold(files.length)(math.min(_, files.length))
    val cap = limit match {
      // clamp in LONG: fileCount + maxFiles overflows Int for an
      // "effectively unlimited" maxFilesPerTrigger=Int.MaxValue, and a
      // wrapped negative cap would wedge the stream on files(cap - 1)
      case m: ReadMaxFiles =>
        math.min(head.toLong, s.fileCount.toLong + m.maxFiles).toInt
      case _ => head
    }
    CdcOffset(cap, if (cap == 0) "" else nameOf(files(cap - 1)),
      Some(CdcOffset.hashNames(files.take(cap).map(nameOf))))
  }

  /** True head of the log (progress reporting shows real backlog even
    * while admission control paces consumption). Reuses the trigger's
    * cached listing.
    */
  override def reportLatestOffset(): Offset = {
    val files = listing(minLength = 0)
    CdcOffset(files.length, files.lastOption.map(nameOf).getOrElse(""))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[CdcOffset]
    val e = end.asInstanceOf[CdcOffset]
    val files = listing(minLength = e.fileCount)
    // BOTH boundaries are validated against the current listing. The end
    // check matters most on checkpoint recovery: the WAL replays an
    // offset resolved before a crash, and a file that materialized out
    // of order in between would otherwise silently substitute different
    // files into the recovered batch — corrupt output first, loud error
    // only a batch later.
    def check(o: CdcOffset): Unit = if (o.fileCount > 0) {
      // legacy checkpoints recorded ABSOLUTE paths (a `/` in the name
      // marks them); validate in whichever form the offset speaks so an
      // in-place upgrade keeps its checkpoint
      val legacy = o.lastFile.contains('/')
      def witness(f: String): String = if (legacy) f else nameOf(f)
      require(files.length >= o.fileCount &&
          witness(files(o.fileCount - 1)) == o.lastFile,
        s"graft-cdc: committed file prefix changed under the stream — " +
          s"expected file #${o.fileCount} to be '${o.lastFile}' but the " +
          s"sorted listing has '${files.lift(o.fileCount - 1).map(witness).getOrElse("<missing>")}'. " +
          "Log files must be named lexicographically monotone (zero-padded " +
          "counters); an out-of-order or deleted file would silently lose data.")
      // membership witness: a delete+insert INSIDE the range keeps count
      // and boundary intact — only the prefix hash can catch it
      o.prefixHash.foreach { h =>
        require(CdcOffset.hashNames(files.take(o.fileCount).map(witness)) == h,
          s"graft-cdc: file membership changed inside the committed range " +
            s"(prefix of ${o.fileCount} files no longer matches the offset's " +
            "witness hash). A file was deleted and another inserted between " +
            "offset resolution and planning — reading on would silently " +
            "substitute data.")
      }
    }
    check(s)
    check(e)
    files.slice(s.fileCount, e.fileCount)
      .map(f => CdcInputPartition(f): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcReaderFactory(required.json, timeZoneId, pushed, confMap)
  override def deserializeOffset(json: String): Offset = CdcOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
