package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.CdcDataSource

/** End-to-end CDC pipeline wiring (SURVEY.md §3.1 stages 3–7 as ONE Spark
  * query): source → parse → enrich → sink.
  *
  * The reference statically wires PostgreSQL→Debezium→topic→function→topic
  * (`docs/architecture.md:9-73`); here the same dataflow is a declarative
  * streaming plan, so Catalyst analyzes/optimizes/codegens it per micro-batch
  * and checkpointing upgrades the reference's at-least-once delivery
  * (`functions/README.md:23`) to exactly-once into idempotent sinks.
  *
  * Scale: the whole plan is narrow (per-record parse/enrich, no shuffle), so
  * it parallelizes linearly with input partitions on a real cluster —
  * 1000 executors each run the identical stateless stage, no coordination.
  */
object CdcPipeline {

  /** The whole per-record chain — parse, enrich, serialize, route — as one
    * [[graft.functions.EnrichKernel]] pass per envelope, byte-identical to
    * `Enrich.apply` plus the routing below (`EnrichKernelParitySpec`).
    * The P16 context columns are used when the source provides them, as
    * in [[Enrich.processingMetadataStruct]].
    *
    * P19 (reference py:100 per-record audit log) as Spark observable
    * metrics: per-micro-batch enriched/passthrough counts surfaced through
    * `StreamingQueryProgress.observedMetrics("cdc_enrich")` — zero-cost
    * accumulator aggregation instead of a per-record log line. Passthrough
    * = output bytes are the input bytes (invalid JSON or one of the
    * reference's raise paths — see Enrich.apply); null input (e.g. a Kafka
    * tombstone) is passthrough too, so n_enriched + n_passthrough ==
    * n_total. `n_fallback` counts the rows whose typed fields the kernel
    * took from Spark's own JSON parser instead of its fast path.
    */
  private def enriched(in: DataFrame, cfg: EnrichConfig): DataFrame = {
    // the session's to_json null-field policy, which the enrichment's
    // serialization followed
    val ignoreNullFields = in.sparkSession.conf
      .get("spark.sql.jsonGenerator.ignoreNullFields", "true").toBoolean
    val k = graft.functions.EnrichKernel(col("value"),
      cfg.processingTimeIso.map(lit).getOrElse(current_timestamp()),
      Enrich.context(in, "message_id"), Enrich.context(in, "topic"),
      Enrich.context(in, "partition"),
      cfg.functionName, cfg.functionVersion, ignoreNullFields)
    val passthrough = col("enriched.passthrough")
    in.select(k.as("enriched"))
      .observe("cdc_enrich",
        count(lit(1)).as("n_total"),
        count(when(!passthrough, 1)).as("n_enriched"),
        count(when(passthrough, 1)).as("n_passthrough"),
        count(when(col("enriched.fallback"), 1)).as("n_fallback"))
  }

  private def enrichedValues(in: DataFrame, cfg: EnrichConfig): DataFrame =
    enriched(in, cfg).select(col("enriched.value").as("value"))

  /** Per-table output routing column — the sink analogue of the reference's
    * one-topic-per-table layout (`docs/setup-guide.md:33-35`). Passthrough
    * records (raw bytes, replayable) route to `_unrouted`; ENRICHED records
    * whose envelope lacks `source.table` route to `_unknown` so the
    * `_unrouted` partition never mixes enriched output with raw bytes.
    *
    * Leading-underscore names are RESERVED for those system buckets: a
    * genuine source table whose name starts with `_` is escaped to
    * `t<name>-<hash8>` (the hash makes the escape collision-free), so it
    * can never shadow a reserved bucket and silently interleave enriched
    * records with passthrough bytes.
    */
  def routedValues(in: DataFrame, cfg: EnrichConfig): DataFrame =
    enriched(in, cfg).select(
      col("enriched.source_table").as("source_table"),
      col("enriched.value").as("value"))

  /** Streaming pipeline: envelope log dir → enrich → envelope log dir,
    * both ends on the `graft-cdc` DataSource V2 table
    * ([[graft.sources.CdcTableProvider]]). The source tails the input's
    * name-sorted file list with checkpointed offsets and fails loudly on a
    * file that lands behind the committed prefix; `maxFilesPerTrigger`
    * bounds each micro-batch (and so a recovery batch). The sink
    * rename-commits monotone names, so its output is itself a tailable
    * `graft-cdc` log that feeds the next stage directly — the reference's
    * topic chaining (`docs/architecture.md:30-41`).
    *
    * `Trigger.AvailableNow` drains what exists then stops (deterministic
    * for tests); pass `availableNow = false` for a continuous micro-batch
    * run. `fanOutByTable = true` routes each record into one subdirectory
    * per source table ([[routedValues]]), mirroring the reference's
    * one-topic-per-table layout.
    */
  def startV2(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, cfg: EnrichConfig = EnrichConfig(),
      availableNow: Boolean = true,
      fanOutByTable: Boolean = false,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    // value-only schema: Enrich parses the raw line itself, and a
    // micro-batch scan is never column-pruned, so the full table schema
    // would parse every line into a typed envelope nothing reads
    var reader = spark.readStream.format("graft-cdc")
      .schema(CdcDataSource.ValueOnlySchema)
    maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n))
    val in = reader.load(inDir)
    val values =
      if (fanOutByTable) routedValues(in, cfg) else enrichedValues(in, cfg)
    var writer = values.writeStream
      .format("graft-cdc")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
    if (fanOutByTable) writer = writer.option("partitionColumn", "source_table")
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer)
      .start()
  }

  /** Batch twin (snapshot mode, SURVEY.md §2.1 S2): same transform and
    * the same `graft-cdc` reader and sink as [[startV2]], bounded input —
    * how Debezium replays pre-existing rows through the same path.
    * `outDir` is overwritten.
    */
  def runBatch(spark: SparkSession, inDir: String, outDir: String,
      cfg: EnrichConfig = EnrichConfig()): Unit =
    enrichedValues(spark.read.format("graft-cdc")
        .schema(CdcDataSource.ValueOnlySchema).load(inDir), cfg)
      .write.format("graft-cdc").mode("overwrite").save(outDir)
}
