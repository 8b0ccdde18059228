package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Debezium change-event envelope: the reference engine's "row type".
  *
  * Shape per reference `docs/architecture.md:262-283` and the real capture in
  * `docs/setup-guide.md:66-90`: `before`/`after` images, `source` provenance
  * block (with monotone `lsn` ordering key), `op` ∈ c/u/d/r, `ts_ms`.
  *
  * Representation choice (SURVEY.md §1.2, §7.3#4): the typed payload view is
  * per-table (here: the reference's only table, `customers`,
  * `scripts/install.sh:330`), while the ops that must see the *dynamic* key
  * set (`field_count`, `customer_insights` gating — reference
  * `cdc_enrichment_function.py:76,81`) need a structural view of the raw
  * JSON. So [[parse]] produces both: a typed `envelope` struct and a
  * one-pass `stats` struct ([[graft.functions.EnvelopeStats]]).
  */
object CdcEnvelope {

  /** Typed payload for the reference's `customers` table.
    * `created_at` stays int64 epoch-µs on the wire
    * (`time.precision.mode: adaptive_time_microseconds`,
    * reference `kubernetes/manifests/debezium-postgres-connector.yaml:42-43`).
    */
  val customersPayload: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("name", StringType),
    StructField("email", StringType),
    StructField("created_at", LongType)
  ))

  val sourceSchema: StructType = StructType(Seq(
    StructField("version", StringType),
    StructField("connector", StringType),
    StructField("name", StringType),
    StructField("ts_ms", LongType),
    StructField("snapshot", StringType), // stringly bool, per reference py:66
    StructField("db", StringType),
    StructField("schema", StringType),
    StructField("table", StringType),
    StructField("txId", LongType),
    StructField("lsn", LongType)
  ))

  /** Full envelope schema for a given per-table payload. */
  def schema(payload: StructType = customersPayload): StructType = StructType(Seq(
    StructField("before", payload),
    StructField("after", payload),
    StructField("source", sourceSchema),
    StructField("op", StringType),
    StructField("ts_ms", LongType)
  ))

  /** Parse a raw-bytes/string stream (`value` column) into the envelope.
    *
    * PERMISSIVE semantics (reference P1/P18, py:23-26,104-107): a payload
    * that is not a JSON object yields a null `envelope` struct — exactly the
    * records the reference's try/except passes through unmodified. This is a
    * narrow per-row transform: no shuffle, whole-stage-codegen friendly.
    *
    * Two JSON walks per row: [[graft.functions.EnvelopeStats]] extracts
    * every *dynamic* fact the enrichment needs (root-is-object,
    * before/after null-ness, `after` key count, email key/value/JSON-type,
    * `source` dict truthiness) in one Jackson streaming pass, and `from_json`
    * builds the typed envelope — gated on validity so invalid rows skip it.
    * This is the reference formulation (`Enrich.apply`, and every reader of
    * typed envelope columns); the streaming pipeline itself
    * (`CdcPipeline`) makes ONE pass per envelope, through
    * [[graft.functions.EnrichKernel]], which runs the same walk.
    */
  def parse(df: DataFrame, payload: StructType = customersPayload): DataFrame =
    df.withColumn("stats", graft.functions.EnvelopeStats(col("value")))
      .withColumn("envelope",
        when(col("stats.is_object"), from_json(col("value"), schema(payload))))
}
