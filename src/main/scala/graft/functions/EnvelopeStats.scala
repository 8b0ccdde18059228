package graft.functions

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass structural analysis of a Debezium envelope JSON string.
  *
  * The enrichment semantics (reference `cdc_enrichment_function.py:23-107`)
  * need several *dynamic* facts a typed `from_json` struct cannot express:
  * whether the root is a JSON object at all (py's `json.loads` + dict access
  * contract), `before`/`after` JSON-null-ness (`is not None`, py:72-73), the
  * `after` object's key count (`len(after)`, py:76), whether the literal key
  * `email` exists (py:81), the email value and its JSON *type* (py:85 —
  * `"@" in email` raises TypeError for any non-string, which the outer
  * `except` turns into raw passthrough), and `source` dict truthiness
  * (py:59).
  *
  * Computing those with stock expressions costs one full JSON walk EACH
  * (`json_object_keys` ×3 + `get_json_object` ×3 — ~6 walks/row, measured
  * at ~1 ms/row). This expression extracts all of them in a single Jackson
  * streaming pass with no intermediate allocation. The walk itself is
  * [[EnvelopeWalk]], which the streaming pipeline's [[EnrichKernel]] runs
  * in its typed mode: there the same pass also captures the typed scalars
  * the enrichment reads, so the pipeline makes ONE pass per envelope. The
  * `stats` struct here remains for [[graft.cdc.CdcEnvelope.parse]], which
  * pairs it with `from_json`.
  *
  * Null semantics mirror the stock-expression formulation it replaces:
  *   - `after_key_count`/`has_email_key`/`email_nonstring` are null when
  *     `after` is not a JSON object (like `json_object_keys` on a scalar);
  *   - `source_nonempty` is null when `source` is non-null and not an
  *     object, false for missing/null/`{}`, true otherwise;
  *   - trailing garbage after the root object marks the row invalid (py's
  *     `json.loads` raises on it).
  *
  * Exception-path facts (the reference's outer `except` turns each into
  * raw passthrough — see `Enrich.apply`):
  *   - `after_raises`: python raises before producing output — `after` is
  *     a number/bool (`len(after)` TypeError at py:76/78, including falsy
  *     0/false via the un-short-circuited `len(after) > 0`), or a
  *     non-empty string CONTAINING "email" / an array containing the
  *     string element "email" (the `in` test passes, then
  *     `after.get("email")` AttributeError at py:83);
  *   - `after_size`: python `len(after)` for the non-raising non-dict
  *     sizeables — string length in chars, array element count (dynamic
  *     `field_count` when after isn't an object); null otherwise;
  *   - `source_raises`: the `source` KEY is present with a non-dict value
  *     (including JSON null): `message.get("source", {})` returns it
  *     verbatim and the end-of-function log line
  *     `source.get('table', 'unknown')` (py:101) raises AttributeError
  *     even for falsy values the `if source:` gate skipped.
  */
case class EnvelopeStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = EnvelopeStats.schema
  override def prettyName: String = "graft_envelope_stats"

  override def nullSafeEval(in: Any): Any =
    EnvelopeStats.analyze(in.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.EnvelopeStats.analyze($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object EnvelopeStats {

  val schema: StructType = StructType(Seq(
    StructField("is_object", BooleanType, nullable = false),
    StructField("has_before", BooleanType, nullable = false),
    StructField("has_after", BooleanType, nullable = false),
    StructField("after_key_count", IntegerType, nullable = true),
    StructField("has_email_key", BooleanType, nullable = true),
    StructField("email", StringType, nullable = true),
    StructField("email_nonstring", BooleanType, nullable = true),
    StructField("source_nonempty", BooleanType, nullable = true),
    StructField("after_size", IntegerType, nullable = true),
    StructField("after_raises", BooleanType, nullable = false),
    StructField("source_raises", BooleanType, nullable = false)
  ))

  // ALLOW_NON_NUMERIC_NUMBERS: Python's json.loads accepts the NaN /
  // Infinity / -Infinity constants by default (parse_constant), and
  // Spark's own from_json does too (allowNonNumericNumbers default
  // true) — Jackson's default would reject such envelopes here, flipping
  // them from enriched to raw passthrough against both references
  private[functions] val factory = {
    val f = new JsonFactory()
    f.enable(com.fasterxml.jackson.core.JsonParser.Feature.ALLOW_NON_NUMERIC_NUMBERS)
    f
  }

  /** Public: invoked from generated code. Never returns null for non-null
    * input — invalid JSON yields a row with `is_object = false`.
    */
  def analyze(s: UTF8String): InternalRow = {
    val w = new EnvelopeWalk(null)
    val bytes = s.getBytes
    w.run(bytes, 0, bytes.length)
    w.statsRow
  }

  def apply(c: Column): Column =
    GraftSqlBridge.column(EnvelopeStats(GraftSqlBridge.expression(c)))
}

/** How `from_json` converts one struct level of a typed schema, reduced to
  * what decides whether a token converts trivially: each field's index
  * (duplicate detection) and kind. `read` names the string fields whose
  * VALUE a caller consumes — any other token there is coerced to JSON text
  * by `from_json`, so only those must be strings; other string fields
  * accept every token. Immutable; built once per schema.
  */
final class TypedLevel(st: StructType, read: Set[String],
    nestedRead: Map[String, Set[String]] = Map.empty) {
  require(st.length <= 64, "TypedLevel tracks duplicates in a 64-bit mask")
  private val index = new java.util.HashMap[String, Integer]()
  val kinds: Array[Int] = new Array[Int](st.length)
  val nested: Array[TypedLevel] = new Array[TypedLevel](st.length)
  st.fields.zipWithIndex.foreach { case (f, i) =>
    index.put(f.name, i)
    kinds(i) = f.dataType match {
      case _: StringType => if (read(f.name)) TypedLevel.ReadString else TypedLevel.AnyString
      case IntegerType => TypedLevel.Int32
      case LongType => TypedLevel.Int64
      case s: StructType =>
        nested(i) = new TypedLevel(s, nestedRead.getOrElse(f.name, Set.empty))
        TypedLevel.Struct
      case _ => TypedLevel.Other
    }
  }
  def indexOf(name: String): Int = {
    val i = index.get(name)
    if (i == null) -1 else i
  }
}

object TypedLevel {
  final val AnyString = 0
  final val ReadString = 1
  final val Int32 = 2
  final val Int64 = 3
  final val Struct = 4
  final val Other = 5
}

/** The one Jackson walk over an envelope line.
  *
  * Stats mode (`typed == null`) computes exactly the [[EnvelopeStats]]
  * facts. Typed mode additionally checks every field of `typed` against
  * the conversions `from_json` applies, sets `fallback` when a token could
  * convert to anything but its plain value (a non-string token in a read
  * string field, a non-integer or out-of-range number in an int/long
  * field, a non-object struct field, a duplicated typed key), and
  * captures the typed scalars the enrichment reads: root `op`/`ts_ms` and
  * the read fields of `source`. Typed mode only ADDS reads (`getText`,
  * number types) to the same token sequence, so it can only add a
  * failure; [[run]] answers such a failure with a stats-mode re-walk and
  * `fallback`, keeping the stats identical to stats mode's. Not
  * thread-safe; reused row after row.
  */
final class EnvelopeWalk(typed: TypedLevel) {
  import EnvelopeWalk._

  var isObject = false
  var hasBefore = false
  var hasAfter = false
  var afterKeyCount: Integer = null
  var hasEmailKey: java.lang.Boolean = null
  var email: String = null
  var emailNonstring: java.lang.Boolean = null
  var sourceNonempty: java.lang.Boolean = false
  var afterSize: Integer = null
  var afterRaises = false
  var sourceRaises = false

  // typed mode
  var fallback = false
  var op: String = null
  var tsMs = 0L
  var tsMsNull = true
  var sourceObject = false
  val sourceText: Array[String] =
    if (typed == null) null
    else new Array[String](typed.nested(typed.indexOf("source")).kinds.length)

  private val keys = new java.util.HashSet[String]()
  private val iOp = if (typed == null) -1 else typed.indexOf("op")
  private val iTsMs = if (typed == null) -1 else typed.indexOf("ts_ms")

  private def reset(): Unit = {
    isObject = false; hasBefore = false; hasAfter = false
    afterKeyCount = null; hasEmailKey = null; email = null
    emailNonstring = null
    sourceNonempty = false // missing source == {} is falsy
    afterSize = null; afterRaises = false; sourceRaises = false
    fallback = false; op = null; tsMs = 0L; tsMsNull = true
    sourceObject = false
    if (sourceText != null) java.util.Arrays.fill(sourceText.asInstanceOf[Array[AnyRef]], null)
  }

  /** Walk one line; afterwards the fields hold its facts. */
  def run(bytes: Array[Byte], off: Int, len: Int): Unit =
    if (typed == null) walk(bytes, off, len, capture = false)
    else if (!walk(bytes, off, len, capture = true)) {
      walk(bytes, off, len, capture = false)
      fallback = true
    }

  /** The stats facts alone, with `fallback` set: for a line whose typed
    * fields must come from `from_json`'s own parser.
    */
  def runStatsOnly(bytes: Array[Byte], off: Int, len: Int): Unit = {
    walk(bytes, off, len, capture = false)
    fallback = true
  }

  /** @return false iff the parser threw during a typed walk; a stats walk
    *         that throws leaves the facts of an invalid line
    */
  private def walk(bytes: Array[Byte], off: Int, len: Int,
      capture: Boolean): Boolean = {
    reset()
    try {
      val p = EnvelopeStats.factory.createParser(bytes, off, len)
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) return true
        var seen = 0L
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val name = p.currentName()
          val vt = p.nextToken()
          val ti = if (capture) typed.indexOf(name) else -1
          if (ti >= 0) {
            if ((seen & (1L << ti)) != 0) fallback = true
            seen |= 1L << ti
          }
          name match {
            case "before" =>
              hasBefore = vt != JsonToken.VALUE_NULL
              if (ti >= 0 && !typedValueOk(p, vt, typed, ti)) fallback = true
              p.skipChildren()
            case "after" =>
              hasAfter = vt != JsonToken.VALUE_NULL
              // re-assignment on duplicate keys: last occurrence wins,
              // like Python's dict
              afterKeyCount = null; hasEmailKey = null
              email = null; emailNonstring = null
              afterSize = null; afterRaises = false
              if (ti >= 0 && vt != JsonToken.VALUE_NULL &&
                  vt != JsonToken.START_OBJECT) fallback = true
              if (vt == JsonToken.VALUE_NUMBER_INT ||
                  vt == JsonToken.VALUE_NUMBER_FLOAT ||
                  vt == JsonToken.VALUE_TRUE || vt == JsonToken.VALUE_FALSE) {
                // len(number/bool) raises TypeError — even for 0/false,
                // via is_complete's un-short-circuited len(after) > 0
                afterRaises = true
              } else if (vt == JsonToken.VALUE_STRING) {
                val s0 = p.getText
                // code POINTS, not UTF-16 code units: Python's len()
                // counts an astral character once, String.length twice
                afterSize = s0.codePointCount(0, s0.length)
                // "email" in "..." is a substring test; the subsequent
                // after.get("email") then raises AttributeError
                if (s0.contains("email")) afterRaises = true
              } else if (vt == JsonToken.START_ARRAY) {
                var cnt = 0
                var hasEmailElem = false
                while (p.nextToken() != JsonToken.END_ARRAY) {
                  if (p.currentToken() == JsonToken.VALUE_STRING &&
                      p.getText == "email") hasEmailElem = true
                  p.skipChildren()
                  cnt += 1
                }
                afterSize = cnt
                // "email" in [...] is element membership; after.get then
                // raises AttributeError
                if (hasEmailElem) afterRaises = true
              }
              if (vt == JsonToken.START_OBJECT) {
                // unique keys, like Python's len(json.loads(...)) — dup
                // keys collapse (and the email value takes the LAST
                // occurrence, like dict construction)
                val payload = if (ti >= 0) typed.nested(ti) else null
                var payloadSeen = 0L
                keys.clear()
                var hasEmail = false
                var em: String = null
                var nonString = false
                while (p.nextToken() == JsonToken.FIELD_NAME) {
                  val k = p.currentName()
                  val ft = p.nextToken()
                  keys.add(k)
                  if (payload != null) {
                    val pi = payload.indexOf(k)
                    if (pi >= 0) {
                      if ((payloadSeen & (1L << pi)) != 0) fallback = true
                      payloadSeen |= 1L << pi
                      if (!typedValueOk(p, ft, payload, pi)) fallback = true
                    }
                  }
                  if (k == "email") {
                    hasEmail = true
                    if (ft == JsonToken.VALUE_STRING) {
                      em = p.getText
                      nonString = false
                    } else {
                      em = null
                      nonString = true
                    }
                  }
                  p.skipChildren()
                }
                afterKeyCount = keys.size
                hasEmailKey = hasEmail
                email = em
                emailNonstring = nonString
              } else p.skipChildren()
            case "source" =>
              if (vt == JsonToken.START_OBJECT) {
                sourceRaises = false // dup keys: last occurrence wins
                val src = if (ti >= 0) typed.nested(ti) else null
                sourceObject = true
                var srcSeen = 0L
                var cnt = 0
                while (p.nextToken() == JsonToken.FIELD_NAME) {
                  val k = p.currentName()
                  val ft = p.nextToken()
                  if (src != null) {
                    val si = src.indexOf(k)
                    if (si >= 0) {
                      if ((srcSeen & (1L << si)) != 0) fallback = true
                      srcSeen |= 1L << si
                      if (!typedValueOk(p, ft, src, si)) fallback = true
                      else if (src.kinds(si) == TypedLevel.ReadString &&
                          ft == JsonToken.VALUE_STRING) sourceText(si) = p.getText
                    }
                  }
                  p.skipChildren()
                  cnt += 1
                }
                sourceNonempty = cnt > 0
              } else if (vt == JsonToken.VALUE_NULL) {
                sourceNonempty = false
                sourceRaises = true // None.get('table') at the log line
              } else {
                sourceNonempty = null
                sourceRaises = true // <scalar/array>.get AttributeError
                if (ti >= 0) fallback = true
                p.skipChildren()
              }
            case _ =>
              if (ti >= 0) {
                if (!typedValueOk(p, vt, typed, ti)) fallback = true
                else if (ti == iOp) op =
                  if (vt == JsonToken.VALUE_STRING) p.getText else null
                else if (ti == iTsMs) {
                  tsMsNull = vt == JsonToken.VALUE_NULL
                  tsMs = if (tsMsNull) 0L else p.getLongValue
                }
              }
              p.skipChildren()
          }
        }
        if (p.currentToken() != JsonToken.END_OBJECT) { reset(); return true }
        if (p.nextToken() != null) { reset(); return true } // trailing garbage
        isObject = true
        true
      } finally p.close()
    } catch {
      case _: Exception =>
        val threwCapturing = capture
        reset()
        !threwCapturing
    }
  }

  /** The [[EnvelopeStats.schema]] row of the last walk. */
  def statsRow: InternalRow = {
    val r = new GenericInternalRow(11)
    r.update(0, isObject)
    r.update(1, hasBefore)
    r.update(2, hasAfter)
    r.update(3, afterKeyCount)
    r.update(4, hasEmailKey)
    r.update(5, if (email == null) null else UTF8String.fromString(email))
    r.update(6, emailNonstring)
    r.update(7, sourceNonempty)
    r.update(8, afterSize)
    r.update(9, afterRaises)
    r.update(10, sourceRaises)
    r
  }
}

object EnvelopeWalk {

  /** Whether `from_json` converts the token `t` of field `i` of `level`
    * to exactly its plain value. Consumes a struct value's object.
    */
  private def typedValueOk(p: JsonParser, t: JsonToken, level: TypedLevel,
      i: Int): Boolean =
    if (t == JsonToken.VALUE_NULL) true
    else level.kinds(i) match {
      case TypedLevel.AnyString => true
      case TypedLevel.ReadString => t == JsonToken.VALUE_STRING
      case TypedLevel.Int32 =>
        t == JsonToken.VALUE_NUMBER_INT &&
          p.getNumberType == JsonParser.NumberType.INT
      case TypedLevel.Int64 =>
        t == JsonToken.VALUE_NUMBER_INT && {
          val nt = p.getNumberType
          nt == JsonParser.NumberType.INT || nt == JsonParser.NumberType.LONG
        }
      case TypedLevel.Struct =>
        t == JsonToken.START_OBJECT && typedObjectOk(p, level.nested(i))
      case _ => false
    }

  private def typedObjectOk(p: JsonParser, level: TypedLevel): Boolean = {
    var ok = true
    var seen = 0L
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val i = level.indexOf(p.currentName())
      val t = p.nextToken()
      if (i >= 0) {
        if ((seen & (1L << i)) != 0) ok = false
        seen |= 1L << i
        if (!typedValueOk(p, t, level, i)) ok = false
      }
      p.skipChildren()
    }
    ok
  }
}
