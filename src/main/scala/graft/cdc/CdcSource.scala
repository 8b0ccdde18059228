package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source adapters for the CDC pipeline (SURVEY.md §2.1 S1–S3).
  *
  * The reference's source is config-declared Debezium-over-Pulsar; in Spark
  * the same capability is a `readStream` over any transport that carries the
  * envelope JSON. Production path = Kafka (`format("kafka")` over Debezium
  * topics). The file path is not here: it is the `graft-cdc` table
  * ([[graft.sources.CdcTableProvider]]) read with
  * [[graft.sources.CdcDataSource.ValueOnlySchema]], which is what
  * [[CdcPipeline]] tails. Every variant produces the same one-string-column
  * contract that [[Enrich]] consumes, so the transform is
  * transport-agnostic.
  */
object CdcSource {

  /** S1 (Kafka variant, production): Debezium topics carry the envelope in
    * the record value. Subscribe pattern = per-table topics
    * `<server>.<schema>.<table>` (reference naming, `docs/setup-guide.md:33-35`).
    * Kafka metadata columns double as P16 context (topic/partition/offset).
    *
    * Manual runbook (no broker ships in this sandbox — the projection is
    * spec-tested against Kafka's record schema in `CdcSourceSpec`):
    *   1. point `bootstrap` at the Kafka cluster fronting Debezium;
    *   2. `topicPattern = "dbserver1\\.public\\..*"` subscribes every
    *      per-table topic the connector routes to;
    *   3. downstream is identical to the `graft-cdc` file path:
    *      [[CdcEnvelope.parse]] → [[Enrich]] → sink;
    *      `message_id`/`topic`/`partition` flow into P16
    *      `processing_metadata`.
    */
  def streamKafka(spark: SparkSession, bootstrap: String, topicPattern: String): DataFrame =
    projectKafka(spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribePattern", topicPattern)
      .load())

  /** Kafka record → enrichment input contract: decode the value bytes and
    * keep topic/partition/offset as P16 context columns. Split from
    * [[streamKafka]] so the projection is unit-testable against a mocked
    * DataFrame carrying Kafka's source schema.
    */
  def projectKafka(records: DataFrame): DataFrame =
    records.select(
      col("value").cast("string").as("value"),
      col("topic"),
      col("partition"),
      concat_ws(":", col("topic"), col("partition"), col("offset")).as("message_id"))

  /** S1 (TCP socket variant): envelope lines over a live network socket —
    * the in-sandbox stand-in for a broker transport (no Kafka broker or
    * connector jars ship here; see the README runbook for the real
    * wiring). Emits the same one-string-column contract as the `graft-cdc`
    * file table and the Kafka variant, so everything downstream is
    * identical; exercised end-to-end over a real socket in
    * `CdcSocketTransportSpec`. Not for production (the socket source is
    * unreplayable — no offsets), which is exactly why the checkpointed
    * file/Kafka variants exist.
    */
  def streamSocket(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream.format("socket")
      .option("host", host).option("port", port).load()

  /** S2: initial snapshot — wrap a batch table scan as `op='r'` envelopes,
    * exactly how Debezium replays existing rows through the same topic
    * (`snapshot.mode: initial`, reference connector yaml:33-34). The rows
    * then flow through the SAME enrichment as live changes (§7.3#6).
    *
    * @param rows      batch DataFrame of the source table
    * @param db/schema/table provenance for the envelope `source` block
    * @param serverName logical server name (topic prefix)
    */
  def snapshot(rows: DataFrame, db: String, schema: String, table: String,
      serverName: String = "dbserver1",
      fixedTsMs: Option[Long] = None): DataFrame =
    changes(rows, "r", db, schema, table, lit(null), serverName, fixedTsMs)

  /** S2 (JDBC variant): initial snapshot read straight from the source
    * database — the Spark analogue of Debezium's `snapshot.mode: initial`
    * reading the live table (reference connector yaml:33-34), rather than
    * wrapping an already-loaded DataFrame. The rows wrap through
    * [[snapshot]], so envelope shape and enrichment are IDENTICAL to the
    * DataFrame variant (spec-proven parity in `CdcJdbcSnapshotSpec`
    * against an in-JVM Derby with the reference `customers` DDL,
    * reference scripts/install.sh:330).
    *
    * Scale shape: pass `partitionColumn` + `bounds` to split the scan
    * into `numPartitions` bounded range queries (Spark's JDBC
    * partitioned read) — one cursor per executor, the only way a large
    * snapshot is feasible; omitting them falls back to a single-cursor
    * read for small tables.
    *
    * @param url        JDBC url (driver inferred; set `driver` in `props`
    *                   for drivers that don't self-register)
    * @param dbTable    source table (or a pushdown subquery alias)
    */
  def snapshotJdbc(spark: SparkSession, url: String, dbTable: String,
      db: String, schema: String, table: String,
      partitionColumn: Option[String] = None,
      bounds: Option[(Long, Long)] = None,
      numPartitions: Int = 8,
      props: java.util.Properties = new java.util.Properties(),
      serverName: String = "dbserver1",
      fixedTsMs: Option[Long] = None): DataFrame = {
    // half-specified partitioning would SILENTLY fall back to the
    // single-cursor read — the exact scale failure these params prevent
    require(partitionColumn.isDefined == bounds.isDefined,
      "snapshotJdbc: partitionColumn and bounds must be supplied together")
    val rows = (partitionColumn, bounds) match {
      case (Some(pc), Some((lo, hi))) =>
        spark.read.jdbc(url, dbTable, pc, lo, hi, numPartitions, props)
      case _ =>
        spark.read.jdbc(url, dbTable, props)
    }
    snapshot(rows, db, schema, table, serverName, fixedTsMs)
  }

  /** Generator twin of [[snapshot]] for arbitrary ops: wrap rows as
    * c/u/d/r envelopes with an explicit monotone `lsn`. Image placement
    * mirrors Debezium under default replica identity: inserts/updates/reads
    * carry `after` only, deletes carry `before` only.
    */
  def changes(rows: DataFrame, op: String, db: String, schema: String,
      table: String, lsn: Column,
      serverName: String = "dbserver1",
      fixedTsMs: Option[Long] = None,
      txId: Option[Column] = None): DataFrame =
    envelope(rows, rows.columns.toSeq, lit(op == "d"), lit(op), lsn,
      txId.getOrElse(lit(null)), db, schema, table, serverName, fixedTsMs)

  /** Mixed-op twin of [[changes]]: rows carry their OWN op and lsn columns
    * (the shape a database changelog/audit table delivers — one row per
    * change, any op), wrapped per-row with Debezium image placement:
    * inserts/updates/reads carry `after` only, deletes `before` only. The
    * JSON layout is field-for-field the one [[changes]] emits, so a poll
    * over a changelog table is byte-indistinguishable from the file
    * transport (spec-proven in `CdcJdbcIncrementalSpec`).
    *
    * @param opCol  column holding the op code (`c`/`u`/`d`/`r`)
    * @param lsnCol column holding the monotone change sequence
    */
  def changesMixed(rows: DataFrame, opCol: String, lsnCol: String,
      db: String, schema: String, table: String,
      serverName: String = "dbserver1",
      fixedTsMs: Option[Long] = None): DataFrame =
    envelope(rows, rows.columns.filterNot(c => c == opCol || c == lsnCol)
        .toSeq, col(opCol) === "d", col(opCol), col(lsnCol), lit(null),
      db, schema, table, serverName, fixedTsMs)

  /** The one Debezium envelope builder behind [[snapshot]], [[changes]]
    * and [[changesMixed]]: `payload` columns as the row image — in
    * `before` when `isDelete`, else in `after` — plus the 10-field
    * `source` block, `op` and `ts_ms` (the clock unless `fixedTsMs`).
    *
    * ignoreNullFields=false: Debezium emits EVERY column and block —
    * "before": null, "lsn": null, and a NULL column as "email": null.
    * Default to_json would drop those keys, so a null-valued column
    * became indistinguishable from an absent one and downstream
    * key-presence semantics (has_email_key, field_count) diverged from
    * real connector output.
    */
  private def envelope(rows: DataFrame, payload: Seq[String],
      isDelete: Column, op: Column, lsn: Column, txId: Column, db: String,
      schema: String, table: String, serverName: String,
      fixedTsMs: Option[Long]): DataFrame = {
    val tsMs = fixedTsMs.map(lit(_).cast("long"))
      .getOrElse((unix_timestamp(current_timestamp()) * 1000).cast("long"))
    val image = struct(payload.map(col): _*)
    val noImage = lit(null).cast(StructType(payload.map(rows.schema(_))))
    rows.select(to_json(struct(
      when(isDelete, image).otherwise(noImage).as("before"),
      when(isDelete, noImage).otherwise(image).as("after"),
      struct(
        lit("spark-graft").as("version"),
        lit("postgresql").as("connector"),
        lit(serverName).as("name"),
        tsMs.as("ts_ms"),
        // isin, not ===: `===` warns when `changes` compares lit("r")
        // with itself
        when(op.isin("r"), "true").otherwise("false").as("snapshot"),
        lit(db).as("db"),
        lit(schema).as("schema"),
        lit(table).as("table"),
        txId.cast("long").as("txId"),
        lsn.cast("long").as("lsn")).as("source"),
      op.cast("string").as("op"),
      tsMs.as("ts_ms")
    ), Map("ignoreNullFields" -> "false")).as("value"))
  }

  /** S3: table include filter — restrict a multi-table envelope stream to one
    * schema/table, the Spark form of Debezium's `table.include.list`
    * (reference connector yaml:23-24). Applied on parsed envelopes so it
    * pushes into the scan as an ordinary predicate.
    */
  def includeTable(parsed: DataFrame, schema: String, table: String): DataFrame =
    parsed.filter(
      col("envelope.source.schema") === schema &&
        col("envelope.source.table") === table)
}
