package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.DateFormatClass
import org.apache.spark.sql.functions._

/** Configuration for the enrichment transform.
  *
  * @param functionName/functionVersion reference py:91-92 context metadata
  * @param processingTimeIso fixed clock for deterministic tests/oracles
  *        (SURVEY.md §7.3#2); None → `current_timestamp()` per micro-batch
  */
case class EnrichConfig(
    functionName: String = "cdc-enrichment",
    functionVersion: String = "1.0.0",
    processingTimeIso: Option[String] = None)

/** The reference engine's entire operator library, re-expressed as ONE pure
  * `DataFrame => DataFrame` of native Catalyst expressions — no UDFs, so the
  * whole transform stays inside whole-stage codegen and the plan is narrow
  * (zero shuffles) end-to-end, at any scale.
  *
  * Implements SURVEY.md §2.2 P1–P18, byte-semantics-faithful to reference
  * `functions/cdc-enrichment/cdc_enrichment_function.py` (108 LoC), including
  * its quirks:
  *   - missing `op` → code "unknown", label "UNKNOWN" (py:35,41)
  *   - `timestamps` struct only when `ts_ms` truthy (py:50)
  *   - `customer_insights` gated on the *key* `email` existing in the dynamic
  *     `after` dict, not on its value (py:81)
  *   - `email_domain` is split-index-1, so "a@b@c" → "b" (py:85)
  *   - ISO timestamps in Python `datetime.isoformat()` form: fraction omitted
  *     when the sub-second part is zero, else 6 digits (bug-compat, §7.3#1:
  *     output defined as UTC)
  *   - non-JSON-object input passes through unchanged (py:104-107)
  *   - an `email` key with any non-string value passes through unchanged
  *     (py:85 `"@" in email` TypeError → outer except, py:104-107)
  *   - a truthy `ts_ms` outside years 1–9999 passes through unchanged
  *     (py:50 `datetime.fromtimestamp` raises → outer except)
  *
  * The streaming pipeline (`CdcPipeline`) runs this transform as one fused
  * expression, [[graft.functions.EnrichKernel]], proven byte-identical to
  * it; this formulation stays the reference and serves the callers that
  * read its typed `envelope`/`enrichment` columns.
  */
object Enrich {

  /** `date_format` pinned to UTC whatever `spark.sql.session.timeZone`
    * says: the output is defined as UTC (SURVEY.md §7.3#1).
    */
  private def utcFormat(t: Column, pattern: String): Column =
    GraftSqlBridge.column(DateFormatClass(GraftSqlBridge.expression(t),
      GraftSqlBridge.expression(lit(pattern)), Some("UTC")))

  /** Python `datetime.isoformat()` of an epoch-millis column, UTC. */
  def isoFromMillis(tsMs: Column): Column = {
    val t = timestamp_millis(tsMs)
    when(tsMs % 1000 === 0, utcFormat(t, "yyyy-MM-dd'T'HH:mm:ss"))
      .otherwise(utcFormat(t, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
  }

  /** Python `ts_ms` truthiness (py:50): the `timestamps` struct exists. */
  private def tsTruthy(tsMs: Column): Column = tsMs.isNotNull && tsMs =!= 0

  /** `datetime`'s years 1–9999 in epoch millis, UTC. A truthy `ts_ms`
    * outside them makes `datetime.fromtimestamp` raise (py:50), and the
    * outer `except` passes the raw line through (py:104-107);
    * `timestamp_millis` would instead overflow past about ±9.2e15 and fail
    * the query.
    */
  val MinTsMs: Long = -62135596800000L
  val MaxTsMs: Long = 253402300799999L

  private def tsInRange(tsMs: Column): Column = tsMs.between(MinTsMs, MaxTsMs)

  /** P3/P4: op code → (code, label, is_mutation). */
  def operationStruct(op: Column): Column = struct(
    coalesce(op, lit("unknown")).as("code"),
    coalesce(
      element_at(
        map(lit("c"), lit("CREATE"), lit("u"), lit("UPDATE"),
          lit("d"), lit("DELETE"), lit("r"), lit("READ")), op),
      lit("UNKNOWN")).as("label"),
    coalesce(op.isin("c", "u", "d"), lit(false)).as("is_mutation")
  )

  /** P5–P7: event/processing timestamps, present only when ts_ms truthy. */
  def timestampsStruct(tsMs: Column, cfg: EnrichConfig): Column = {
    val processing = cfg.processingTimeIso
      .map(lit)
      .getOrElse(utcFormat(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
    when(tsTruthy(tsMs) && tsInRange(tsMs), struct(
      tsMs.as("event_time_ms"),
      isoFromMillis(tsMs).as("event_time_iso"),
      processing.as("processing_time_iso")))
  }

  /** P7–P9: provenance projection, present only when `source` is a
    * non-empty object — Python dict truthiness (py:59 `if source:`), so
    * `"source":{}` emits nothing while `{"db":null}` does.
    * `sourceNonempty` is the one-pass `stats.source_nonempty` fact.
    */
  def sourceMetadataStruct(source: Column, sourceNonempty: Column): Column =
    when(source.isNotNull && sourceNonempty, struct(
      source.getField("db").as("database"),
      source.getField("schema").as("schema"),
      source.getField("table").as("table"),
      source.getField("connector").as("connector"),
      source.getField("version").as("version"),
      coalesce(source.getField("snapshot") === "true", lit(false)).as("is_snapshot")))

  /** P10–P12: null-presence predicates + dynamic field count.
    * `field_count` counts the keys actually present in the `after` JSON
    * object (dynamic schema — py:76), which a fixed struct can't express;
    * operands come from the one-pass `stats` struct
    * (see [[graft.functions.EnvelopeStats]]).
    */
  def dataQualityStruct(hasBefore: Column, hasAfter: Column,
      afterKeyCount: Column, afterSize: Column = lit(null)): Column = {
    // python len(after): dict → key count; string/array → after_size
    // (rows where len() would RAISE never reach this — they passthrough
    // on stats.after_raises)
    val fieldCount = when(hasAfter, coalesce(afterKeyCount, afterSize))
      .otherwise(0)
    struct(
      hasBefore.as("has_before"),
      hasAfter.as("has_after"),
      fieldCount.as("field_count"),
      (hasAfter && fieldCount > 0).as("is_complete"))
  }

  /** P13–P15: email insights, gated on the `email` KEY being present. */
  def customerInsightsStruct(hasEmailKey: Column, email: Column): Column = {
    when(hasEmailKey, struct(
      when(email.contains("@"), split(email, "@").getItem(1)).as("email_domain"),
      (email.isNotNull && length(email) > 0).as("has_email"),
      coalesce(length(email), lit(0)).as("email_length")))
  }

  /** P16: runtime/context metadata. `topic`/`partition` columns are used when
    * the source provides them (Kafka metadata columns), else null literals.
    */
  def processingMetadataStruct(df: DataFrame, cfg: EnrichConfig): Column =
    struct(
      lit(cfg.functionName).as("function_name"),
      lit(cfg.functionVersion).as("function_version"),
      context(df, "message_id").as("message_id"),
      context(df, "topic").as("topic"),
      context(df, "partition").as("partition_id"))

  /** A P16 context column as a string: `df`'s own when present, else null. */
  private[cdc] def context(df: DataFrame, name: String): Column =
    if (df.columns.contains(name)) col(name).cast("string") else lit(null).cast("string")

  /** Full enrichment over a parsed stream (output of [[CdcEnvelope.parse]]):
    * adds an `enrichment` struct column (P2–P16).
    */
  def withEnrichment(df: DataFrame, cfg: EnrichConfig = EnrichConfig()): DataFrame = {
    val env = col("envelope")
    df.withColumn("enrichment", struct(
      operationStruct(env.getField("op")).as("operation"),
      timestampsStruct(env.getField("ts_ms"), cfg).as("timestamps"),
      sourceMetadataStruct(env.getField("source"),
        col("stats.source_nonempty")).as("source_metadata"),
      dataQualityStruct(col("stats.has_before"), col("stats.has_after"),
        col("stats.after_key_count"), col("stats.after_size"))
        .as("data_quality"),
      customerInsightsStruct(col("stats.has_email_key"),
        col("stats.email")).as("customer_insights"),
      processingMetadataStruct(df, cfg).as("processing_metadata")))
  }

  /** End-to-end record transform (P1–P18): raw `value` string in, one output
    * string column out — enriched JSON `{original, enrichment}` for parseable
    * envelopes, the ORIGINAL BYTES UNCHANGED for anything else (the
    * reference's error-fallback contract, py:104-107). Narrow plan; the
    * output column type never forbids the fallback (SURVEY.md §7.3#5).
    */
  def apply(df: DataFrame, cfg: EnrichConfig = EnrichConfig()): DataFrame = {
    val parsed = withEnrichment(CdcEnvelope.parse(df), cfg)
    // Reference bug-compat — every path where the Python raises inside the
    // try and the outer except returns the raw bytes (py:104-107):
    //  - an `email` KEY with ANY non-string value ("@" in None TypeError,
    //    py:85) — `stats.email_nonstring`;
    //  - `after` as number/bool (len TypeError) or a string/array
    //    containing "email" (after.get AttributeError) —
    //    `stats.after_raises`;
    //  - `source` present as anything but an object, null included
    //    (source.get AttributeError at the final log line, py:101) —
    //    `stats.source_raises`;
    //  - a truthy `ts_ms` outside years 1–9999 (datetime.fromtimestamp
    //    ValueError/OverflowError, py:50).
    val tsMs = col("envelope.ts_ms")
    val pyRaises = coalesce(col("stats.email_nonstring"), lit(false)) ||
      col("stats.after_raises") || col("stats.source_raises") ||
      (tsTruthy(tsMs) && !tsInRange(tsMs))
    parsed.withColumn("value_out",
      when(col("envelope").isNull || pyRaises,
        col("value"))
        // `original` is the INPUT BYTES spliced verbatim, not the typed
        // struct re-serialized: the typed re-serialization dropped
        // unknown keys and (under to_json's default ignoreNullFields)
        // explicit JSON nulls — so "email": null in `after` vanished and
        // consumers couldn't distinguish set-to-NULL from absent. The
        // reference re-serializes the parsed dict (json.dumps), which
        // also preserves every key and explicit null. The enrichment
        // struct still uses to_json's null-dropping: there it is the
        // faithful choice, mirroring python's conditionally-ABSENT
        // sub-dicts (timestamps/source_metadata/customer_insights).
        .otherwise(concat(
          lit("{\"original\":"), col("value"),
          lit(",\"enrichment\":"), to_json(col("enrichment")),
          lit("}"))))
  }
}
