package graft.functions

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.{Column, GraftSqlBridge, GraftSqlJsonBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.{CdcEnvelope, Enrich}

/** The streaming record path's whole per-envelope chain as ONE expression:
  * raw line in, `{"original":…,"enrichment":…}` bytes and the per-table
  * routing key out, from a single byte-level Jackson pass.
  *
  * It replaces, in `graft.cdc.CdcPipeline`, the chain
  * `EnvelopeStats` → `from_json` → the `enrichment` struct → `to_json` →
  * `concat` → the routing `when`, and is byte-identical to it
  * (`EnrichKernelParitySpec` compares the two). `graft.cdc.Enrich` keeps
  * that chain as the reference formulation.
  *
  * The pass is [[EnvelopeWalk]] in typed mode: the `stats` facts plus the
  * typed scalars the enrichment reads (`op`, `ts_ms`, `source.{db, schema,
  * table, connector, version, snapshot}`), with every typed field of
  * [[CdcEnvelope.schema]] checked against `from_json`'s conversions. A row
  * whose typed fields could coerce to anything but their plain values —
  * or whose bytes the byte-level parser would decode differently from
  * `from_json`'s UTF-8 reader (invalid UTF-8, a NUL byte, a leading BOM)
  * — takes them from [[GraftSqlJsonBridge.permissiveLineParser]], the
  * machinery `from_json` itself runs; its `fallback` flag feeds the
  * pipeline's `n_fallback` count. Pass-through rows (not an object, or a
  * `stats.*_raises` fact) pass through before any typed check.
  *
  * Children: the line, the processing time (a string, or a timestamp
  * formatted once per distinct value as UTC `yyyy-MM-dd'T'HH:mm:ss.SSSSSS`),
  * and the `message_id`/`topic`/`partition_id` strings.
  * `ignoreNullFields` is `to_json`'s option of the same name.
  */
case class EnrichKernel(children: Seq[Expression], functionName: String,
    functionVersion: String, ignoreNullFields: Boolean) extends Expression {

  override def nullable: Boolean = false
  override def dataType: DataType = EnrichKernel.schema
  override def prettyName: String = "graft_enrich_kernel"

  def newWorker(): EnrichKernelWorker =
    new EnrichKernelWorker(functionName, functionVersion, ignoreNullFields)

  @transient private lazy val worker = newWorker()

  private def timestampClock = children(1).dataType == TimestampType

  override def eval(input: InternalRow): Any = {
    val proc = children(1).eval(input)
    if (!timestampClock) worker.processingIso(proc.asInstanceOf[UTF8String])
    else if (proc == null) worker.noProcessingTime()
    else worker.processingMicros(proc.asInstanceOf[Long])
    worker(children(0).eval(input).asInstanceOf[UTF8String],
      children(2).eval(input).asInstanceOf[UTF8String],
      children(3).eval(input).asInstanceOf[UTF8String],
      children(4).eval(input).asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("enrichKernel", this)
    val w = ctx.addMutableState(classOf[EnrichKernelWorker].getName,
      "enrichWorker", v => s"$v = $self.newWorker();")
    val evs = children.map(_.genCode(ctx))
    def arg(i: Int) = s"${evs(i).isNull} ? null : ${evs(i).value}"
    val setClock =
      if (timestampClock)
        s"if (${evs(1).isNull}) $w.noProcessingTime(); " +
          s"else $w.processingMicros(${evs(1).value});"
      else s"$w.processingIso(${arg(1)});"
    ev.copy(code = code"""
      ${evs.map(_.code).mkString("\n")}
      $setClock
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        $w.apply(${arg(0)}, ${arg(2)}, ${arg(3)}, ${arg(4)});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object EnrichKernel {

  val schema: StructType = StructType(Seq(
    StructField("value", StringType, nullable = true),
    StructField("source_table", StringType, nullable = false),
    StructField("passthrough", BooleanType, nullable = false),
    StructField("fallback", BooleanType, nullable = false)))

  /** The typed envelope as the walk checks it; `op` and the provenance
    * strings of `source` are the string fields the enrichment reads.
    */
  private[functions] lazy val typedEnvelope: TypedLevel =
    new TypedLevel(CdcEnvelope.schema(), Set("op"),
      Map("source" -> Set("db", "schema", "table", "connector", "version", "snapshot")))

  def apply(value: Column, processingTime: Column, messageId: Column,
      topic: Column, partitionId: Column, functionName: String,
      functionVersion: String, ignoreNullFields: Boolean): Column =
    GraftSqlBridge.column(EnrichKernel(
      Seq(value, processingTime, messageId, topic, partitionId)
        .map(GraftSqlBridge.expression),
      functionName, functionVersion, ignoreNullFields))
}

/** Per-partition state of [[EnrichKernel]]: the reused walk, output buffer
  * and caches. Not thread-safe; generated code holds one per partition.
  */
final class EnrichKernelWorker(functionName: String, functionVersion: String,
    ignoreNullFields: Boolean) {
  import EnrichKernelWorker._

  private val typed = EnrichKernel.typedEnvelope
  private val walk = new EnvelopeWalk(typed)
  private val sourceLevel = typed.nested(typed.indexOf("source"))
  private val sDb = sourceLevel.indexOf("db")
  private val sSchema = sourceLevel.indexOf("schema")
  private val sTable = sourceLevel.indexOf("table")
  private val sConnector = sourceLevel.indexOf("connector")
  private val sVersion = sourceLevel.indexOf("version")
  private val sSnapshot = sourceLevel.indexOf("snapshot")
  private val srcText = new Array[String](sourceLevel.kinds.length)

  private lazy val sparkParser =
    GraftSqlJsonBridge.permissiveLineParser(CdcEnvelope.schema(), "UTC")
  private val iOp = typed.indexOf("op")
  private val iTs = typed.indexOf("ts_ms")
  private val iSrc = typed.indexOf("source")

  private var buf = new Array[Byte](4096)
  private var n = 0
  private var first = true

  private val nameBytes = jsonStringBytes(functionName)
  private val versionBytes = jsonStringBytes(functionVersion)
  private var clockBytes: Array[Byte] = null
  private var clockMicros = Long.MinValue
  private var clockIso: UTF8String = null

  private var lastTable: String = null
  private var lastKey: UTF8String = null

  /** No processing time: the field is null. */
  def noProcessingTime(): Unit = clockBytes = null

  /** Processing time from a timestamp, in micros. */
  def processingMicros(m: Long): Unit =
    if (clockBytes == null || clockIso != null || m != clockMicros) {
      clockMicros = m
      clockIso = null
      n = 0
      byte('"')
      dateTime(Math.floorDiv(m, 1000000L))
      byte('.')
      digits(Math.floorMod(m, 1000000L), 6)
      byte('"')
      clockBytes = java.util.Arrays.copyOf(buf, n)
    }

  /** Processing time as a ready string (or null). */
  def processingIso(iso: UTF8String): Unit =
    if (iso == null) { clockBytes = null; clockIso = null }
    else if (!(iso eq clockIso)) {
      clockIso = iso
      clockMicros = Long.MinValue
      clockBytes = jsonStringBytes(iso.toString)
    }

  def apply(value: UTF8String, messageId: UTF8String, topic: UTF8String,
      partitionId: UTF8String): InternalRow = {
    if (value == null) return result(null, Unrouted, passthrough = true, fallback = false)
    val base = value.getBaseObject
    val len = value.numBytes
    // parse in place when the string sits in a heap array (an UnsafeRow)
    var arr: Array[Byte] = null
    var off = 0
    base match {
      case a: Array[Byte] =>
        arr = a; off = (value.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt
      case _ => arr = value.getBytes
    }
    if (plainUtf8(arr, off, len)) walk.run(arr, off, len)
    else walk.runStatsOnly(arr, off, len)
    val w = walk
    if (!w.isObject || java.lang.Boolean.TRUE.equals(w.emailNonstring) ||
        w.afterRaises || w.sourceRaises)
      return result(value, Unrouted, passthrough = true, fallback = false)

    var op: String = null
    var tsNull = true
    var ts = 0L
    var sourceObject = false
    if (!w.fallback) {
      op = w.op; tsNull = w.tsMsNull; ts = w.tsMs; sourceObject = w.sourceObject
      System.arraycopy(w.sourceText, 0, srcText, 0, srcText.length)
    } else {
      val it = sparkParser(value)
      val r = if (it.hasNext) it.next() else null
      def at(i: Int) = r != null && !r.isNullAt(i)
      if (at(iOp)) op = r.getUTF8String(iOp).toString
      if (at(iTs)) { tsNull = false; ts = r.getLong(iTs) }
      java.util.Arrays.fill(srcText.asInstanceOf[Array[AnyRef]], null)
      if (at(iSrc)) {
        sourceObject = true
        val s = r.getStruct(iSrc, srcText.length)
        var i = 0
        while (i < srcText.length) {
          if (sourceLevel.kinds(i) == TypedLevel.ReadString && !s.isNullAt(i))
            srcText(i) = s.getUTF8String(i).toString
          i += 1
        }
      }
    }
    val hasTs = !tsNull && ts != 0
    // a truthy ts_ms outside datetime's years passes through, as in Enrich
    if (hasTs && (ts < Enrich.MinTsMs || ts > Enrich.MaxTsMs))
      return result(value, Unrouted, passthrough = true, fallback = w.fallback)

    n = 0
    ascii("{\"original\":")
    ensure(len)
    System.arraycopy(arr, off, buf, n, len)
    n += len
    ascii(",\"enrichment\":")
    open()

    name(FOperation); open()
    name(FCode)
    if (op == null) ascii("\"unknown\"") else string(op)
    name(FLabel)
    ascii(op match {
      case "c" => "\"CREATE\""
      case "u" => "\"UPDATE\""
      case "d" => "\"DELETE\""
      case "r" => "\"READ\""
      case _ => "\"UNKNOWN\""
    })
    name(FIsMutation)
    bool(op == "c" || op == "u" || op == "d")
    close()

    if (hasTs) {
      name(FTimestamps); open()
      name(FEventTimeMs); decimal(ts)
      name(FEventTimeIso)
      byte('"')
      dateTime(Math.floorDiv(ts, 1000L))
      if (ts % 1000 != 0) {
        byte('.')
        digits(Math.floorMod(ts, 1000L), 3)
        ascii("000")
      }
      byte('"')
      if (clockBytes == null) nullField(FProcessingTimeIso)
      else { name(FProcessingTimeIso); bytes(clockBytes) }
      close()
    } else nullField(FTimestamps)

    if (sourceObject && java.lang.Boolean.TRUE.equals(w.sourceNonempty)) {
      name(FSourceMetadata); open()
      stringField(FDatabase, srcText(sDb))
      stringField(FSchema, srcText(sSchema))
      stringField(FTable, srcText(sTable))
      stringField(FConnector, srcText(sConnector))
      stringField(FVersion, srcText(sVersion))
      name(FIsSnapshot); bool("true" == srcText(sSnapshot))
      close()
    } else nullField(FSourceMetadata)

    name(FDataQuality); open()
    name(FHasBefore); bool(w.hasBefore)
    name(FHasAfter); bool(w.hasAfter)
    val fieldCount: Integer =
      if (!w.hasAfter) 0
      else if (w.afterKeyCount != null) w.afterKeyCount
      else w.afterSize
    if (fieldCount == null) { nullField(FFieldCount); nullField(FIsComplete) }
    else {
      name(FFieldCount); decimal(fieldCount.longValue)
      name(FIsComplete); bool(w.hasAfter && fieldCount > 0)
    }
    close()

    if (java.lang.Boolean.TRUE.equals(w.hasEmailKey)) {
      val email = w.email
      name(FCustomerInsights); open()
      val at = if (email == null) -1 else email.indexOf('@')
      if (at < 0) nullField(FEmailDomain)
      else {
        // split(email, "@")[1]: the text between the first two '@'
        val next = email.indexOf('@', at + 1)
        stringField(FEmailDomain,
          email.substring(at + 1, if (next < 0) email.length else next))
      }
      name(FHasEmail); bool(email != null && !email.isEmpty)
      name(FEmailLength)
      decimal(if (email == null) 0L else email.codePointCount(0, email.length).toLong)
      close()
    } else nullField(FCustomerInsights)

    name(FProcessingMetadata); open()
    if (nameBytes == null) nullField(FFunctionName)
    else { name(FFunctionName); bytes(nameBytes) }
    if (versionBytes == null) nullField(FFunctionVersion)
    else { name(FFunctionVersion); bytes(versionBytes) }
    utf8Field(FMessageId, messageId)
    utf8Field(FTopic, topic)
    utf8Field(FPartitionId, partitionId)
    close()

    close()
    byte('}')
    result(UTF8String.fromBytes(java.util.Arrays.copyOf(buf, n)),
      routingKey(srcText(sTable)), passthrough = false, fallback = w.fallback)
  }

  /** The sink's per-table key: `_unknown` without `source.table`, and a
    * genuine `_`-prefixed table escaped to `t<name>-<md5[0:8]>` so it never
    * shadows a reserved bucket.
    */
  private def routingKey(table: String): UTF8String =
    if (table == null) Unknown
    else if (table == lastTable) lastKey
    else {
      val t = UTF8String.fromString(table)
      val key =
        if (!table.startsWith("_")) t
        else UTF8String.fromString(
          "t" + t.toString + "-" + DigestUtils.md5Hex(t.getBytes).substring(0, 8))
      lastTable = table
      lastKey = key
      key
    }

  private def result(value: UTF8String, key: UTF8String, passthrough: Boolean,
      fallback: Boolean): InternalRow =
    new GenericInternalRow(Array[Any](value, key, passthrough, fallback))

  private def ensure(k: Int): Unit =
    if (n + k > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, n + k))

  private def byte(b: Int): Unit = {
    ensure(1)
    buf(n) = b.toByte
    n += 1
  }

  private def bytes(b: Array[Byte]): Unit = {
    ensure(b.length)
    System.arraycopy(b, 0, buf, n, b.length)
    n += b.length
  }

  private def ascii(s: String): Unit = {
    ensure(s.length)
    var i = 0
    while (i < s.length) { buf(n + i) = s.charAt(i).toByte; i += 1 }
    n += s.length
  }

  private def bool(b: Boolean): Unit = ascii(if (b) "true" else "false")

  private def decimal(v: Long): Unit =
    if (v >= 0 && v < 10) byte('0' + v.toInt) else ascii(java.lang.Long.toString(v))

  private def digits(v: Long, width: Int): Unit = {
    ensure(width)
    var x = v
    var i = width - 1
    while (i >= 0) { buf(n + i) = ('0' + (x % 10)).toByte; x /= 10; i -= 1 }
    n += width
  }

  /** `yyyy-MM-dd'T'HH:mm:ss` of epoch seconds, UTC, years 1–9999 (the
    * civil-from-days algorithm, proleptic Gregorian like `java.time`).
    */
  private def dateTime(epochSecond: Long): Unit = {
    val days = Math.floorDiv(epochSecond, 86400L)
    val sod = Math.floorMod(epochSecond, 86400L)
    val z = days + 719468L
    val era = Math.floorDiv(z, 146097L)
    val doe = z - era * 146097L
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val d = doy - (153 * mp + 2) / 5 + 1
    val m = if (mp < 10) mp + 3 else mp - 9
    val y = yoe + era * 400 + (if (m <= 2) 1 else 0)
    digits(y, 4); byte('-'); digits(m, 2); byte('-'); digits(d, 2)
    byte('T')
    digits(sod / 3600, 2); byte(':'); digits(sod / 60 % 60, 2); byte(':')
    digits(sod % 60, 2)
  }

  private def open(): Unit = { byte('{'); first = true }

  // the enclosing object now has at least this field
  private def close(): Unit = { byte('}'); first = false }

  private def name(field: Array[Byte]): Unit = {
    if (!first) byte(',')
    first = false
    bytes(field)
  }

  private def nullField(field: Array[Byte]): Unit =
    if (!ignoreNullFields) { name(field); ascii("null") }

  private def stringField(field: Array[Byte], s: String): Unit =
    if (s == null) nullField(field) else { name(field); string(s) }

  private def utf8Field(field: Array[Byte], s: UTF8String): Unit =
    if (s == null) nullField(field) else { name(field); string(s.toString) }

  /** A JSON string as `to_json` writes it (Jackson's escapes, hex in
    * upper case) and `UTF8String.fromString` encodes it (an unpaired
    * surrogate becomes '?').
    */
  private def string(s: String): Unit = {
    ensure(s.length * 6 + 2)
    val b = buf
    var k = n
    b(k) = Quote; k += 1
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 0x80) {
        if (c >= 0x20 && c != '"' && c != '\\') { b(k) = c.toByte; k += 1 }
        else {
          b(k) = Backslash
          val short = c match {
            case '"' => '"'
            case '\\' => '\\'
            case '\b' => 'b'
            case '\t' => 't'
            case '\n' => 'n'
            case '\f' => 'f'
            case '\r' => 'r'
            case _ => 0.toChar
          }
          if (short != 0) { b(k + 1) = short.toByte; k += 2 }
          else {
            b(k + 1) = 'u'.toByte; b(k + 2) = '0'.toByte; b(k + 3) = '0'.toByte
            b(k + 4) = Hex(c >> 4); b(k + 5) = Hex(c & 0xF); k += 6
          }
        }
      } else if (c < 0x800) {
        b(k) = (0xC0 | (c >> 6)).toByte
        b(k + 1) = (0x80 | (c & 0x3F)).toByte
        k += 2
      } else if (Character.isHighSurrogate(c) && i + 1 < s.length &&
          Character.isLowSurrogate(s.charAt(i + 1))) {
        val cp = Character.toCodePoint(c, s.charAt(i + 1))
        b(k) = (0xF0 | (cp >> 18)).toByte
        b(k + 1) = (0x80 | ((cp >> 12) & 0x3F)).toByte
        b(k + 2) = (0x80 | ((cp >> 6) & 0x3F)).toByte
        b(k + 3) = (0x80 | (cp & 0x3F)).toByte
        k += 4
        i += 1
      } else if (Character.isSurrogate(c)) {
        b(k) = '?'.toByte; k += 1
      } else {
        b(k) = (0xE0 | (c >> 12)).toByte
        b(k + 1) = (0x80 | ((c >> 6) & 0x3F)).toByte
        b(k + 2) = (0x80 | (c & 0x3F)).toByte
        k += 3
      }
      i += 1
    }
    b(k) = Quote; k += 1
    n = k
  }

  private def jsonStringBytes(s: String): Array[Byte] =
    if (s == null) null
    else {
      val saved = n
      n = 0
      string(s)
      val out = java.util.Arrays.copyOf(buf, n)
      n = saved
      out
    }
}

object EnrichKernelWorker {
  private val Unrouted = UTF8String.fromString("_unrouted")
  private val Unknown = UTF8String.fromString("_unknown")
  private val Hex = "0123456789ABCDEF".getBytes("US-ASCII")
  private val Quote = '"'.toByte
  private val Backslash = '\\'.toByte

  private def field(s: String): Array[Byte] = ("\"" + s + "\":").getBytes("US-ASCII")
  private val FOperation = field("operation")
  private val FCode = field("code")
  private val FLabel = field("label")
  private val FIsMutation = field("is_mutation")
  private val FTimestamps = field("timestamps")
  private val FEventTimeMs = field("event_time_ms")
  private val FEventTimeIso = field("event_time_iso")
  private val FProcessingTimeIso = field("processing_time_iso")
  private val FSourceMetadata = field("source_metadata")
  private val FDatabase = field("database")
  private val FSchema = field("schema")
  private val FTable = field("table")
  private val FConnector = field("connector")
  private val FVersion = field("version")
  private val FIsSnapshot = field("is_snapshot")
  private val FDataQuality = field("data_quality")
  private val FHasBefore = field("has_before")
  private val FHasAfter = field("has_after")
  private val FFieldCount = field("field_count")
  private val FIsComplete = field("is_complete")
  private val FCustomerInsights = field("customer_insights")
  private val FEmailDomain = field("email_domain")
  private val FHasEmail = field("has_email")
  private val FEmailLength = field("email_length")
  private val FProcessingMetadata = field("processing_metadata")
  private val FFunctionName = field("function_name")
  private val FFunctionVersion = field("function_version")
  private val FMessageId = field("message_id")
  private val FTopic = field("topic")
  private val FPartitionId = field("partition_id")

  /** True when the byte-level parser reads `bytes` exactly as `from_json`'s
    * UTF-8 reader does: well-formed UTF-8 (as `java.nio`'s decoder judges
    * it: no overlong forms, surrogates or code points past U+10FFFF), no
    * NUL byte (Jackson would detect UTF-16/32), no leading BOM (Jackson
    * skips it). An all-ASCII line costs one scan.
    */
  def plainUtf8(bytes: Array[Byte], off: Int, len: Int): Boolean = {
    if (len >= 3 && bytes(off) == 0xEF.toByte && bytes(off + 1) == 0xBB.toByte &&
        bytes(off + 2) == 0xBF.toByte) return false
    var i = off
    val end = off + len
    while (i < end) {
      val b = bytes(i)
      if (b > 0) i += 1
      else if (b == 0) return false
      else {
        val c = b & 0xFF
        def cont(j: Int, lo: Int = 0x80, hi: Int = 0xBF): Boolean =
          j < end && { val x = bytes(j) & 0xFF; x >= lo && x <= hi }
        if (c >= 0xC2 && c <= 0xDF) {
          if (!cont(i + 1)) return false
          i += 2
        } else if (c >= 0xE0 && c <= 0xEF) {
          val lo = if (c == 0xE0) 0xA0 else 0x80
          val hi = if (c == 0xED) 0x9F else 0xBF
          if (!cont(i + 1, lo, hi) || !cont(i + 2)) return false
          i += 3
        } else if (c >= 0xF0 && c <= 0xF4) {
          val lo = if (c == 0xF0) 0x90 else 0x80
          val hi = if (c == 0xF4) 0x8F else 0xBF
          if (!cont(i + 1, lo, hi) || !cont(i + 2) || !cont(i + 3)) return false
          i += 4
        } else return false
      }
    }
    true
  }
}
