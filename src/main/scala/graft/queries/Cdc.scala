package graft.queries

import graft.Tables
import graft.operators.RankOne
import graft.cdc.{CdcEnvelope, CdcLogCompaction, CdcMaterialize, CdcPipeline, CdcSource, Enrich, EnrichConfig}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize.Ops

/** Driver-gate coverage for the CDC path (SURVEY.md §2.1–2.2): synthesizes
  * snapshot envelopes from the `customer` table, runs the full
  * serialize→parse→enrich pipeline, and projects enrichment fields that a
  * DuckDB oracle can recompute directly from the base table — so the JSON
  * round-trip and every P1–P16 expression sit inside the hash-match gate.
  *
  * Scale note: the whole query is narrow (no shuffle until the final
  * order-by), so it distributes trivially; JSON parse/serialize stays inside
  * whole-stage codegen (no UDFs).
  */
object Cdc extends graft.GateFamily {

  private val FixedTs = 1700000000123L // 2023-11-14T22:13:20.123 UTC

  /** The `customers` row images every CDC fixture captures:
    * `(id, name, email)`.
    */
  private def customers(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey").cast("int").as("id"), col("c_name").as("name"),
      concat(regexp_replace(lower(col("c_name")), "[^a-z0-9]+", "."),
        lit("@"), lower(col("c_mktsegment")), lit(".example.com")).as("email"))

  /** `(id, name)` of every customer. */
  private def customerNames(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey").cast("int").as("id"), col("c_name").as("name"))

  def qCdcEnrich(s: SparkSession, d: String): DataFrame = {
    val cust = customers(s, d)
    val envelopes = CdcSource.snapshot(cust, "inventory", "public", "customers",
      fixedTsMs = Some(FixedTs))
    Enrich(envelopes, EnrichConfig(processingTimeIso = Some("2026-01-01T00:00:00")))
      .select(
        col("envelope.after.id").as("id"),
        col("enrichment.operation.code").as("op_code"),
        col("enrichment.operation.label").as("op_label"),
        col("enrichment.operation.is_mutation").as("is_mutation"),
        col("enrichment.timestamps.event_time_ms").as("event_time_ms"),
        col("enrichment.timestamps.event_time_iso").as("event_time_iso"),
        col("enrichment.source_metadata.is_snapshot").as("is_snapshot"),
        col("enrichment.source_metadata.table").as("src_table"),
        col("enrichment.data_quality.has_before").as("has_before"),
        col("enrichment.data_quality.has_after").as("has_after"),
        col("enrichment.data_quality.field_count").as("field_count"),
        col("enrichment.customer_insights.email_domain").as("email_domain"),
        col("enrichment.customer_insights.has_email").as("has_email"),
        col("enrichment.customer_insights.email_length").as("email_length"))
      // checkpoint before the presentation sort: range partitioning samples
      // its input, which would evaluate the whole JSON pipeline twice
      .stage()
      .orderBy(col("id"))
  }

  /** The change mix as its three op generations (r / u / d) — the staged
    * form the tail gate grows a log with; [[changeMixRaw]] is their union.
    */
  private def changeMixParts(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val cust = customers(s, d)
    def mk(rows: DataFrame, op: String, lsn: Column) =
      CdcSource.changes(rows, op, "inventory", "public", "customers",
        lsn, fixedTsMs = Some(FixedTs))
    (mk(cust, "r", col("id").cast("long")),
      mk(cust.filter(col("id") % 3 === 0)
          .withColumn("name", upper(col("name"))),
        "u", col("id") + 10000000L),
      mk(cust.filter(col("id") % 7 === 0), "d", col("id") + 20000000L))
  }

  private def changeMixRaw(s: SparkSession, d: String): DataFrame = {
    val (snaps, upds, dels) = changeMixParts(s, d)
    snaps.unionByName(upds).unionByName(dels)
  }

  /** The deterministic c/u/d/r change mix shared by the materialization
    * gates: snapshot every customer (lsn=id), update every 3rd key
    * (upper-cased name, lsn=id+10M), delete every 7th (lsn=id+20M) —
    * serialized through the full JSON envelope round-trip and parsed back.
    */
  private def changeMix(s: SparkSession, d: String): DataFrame =
    CdcEnvelope.parse(changeMixRaw(s, d))

  /** This JVM's host, as its runtime names itself (`pid@host`). */
  private val host = java.lang.management.ManagementFactory.getRuntimeMXBean
    .getName.split("@", 2).last.replaceAll("[^A-Za-z0-9._-]", "_")

  /** A JVM scratch dir's name: `graft-jvm-<pid>@<host>`. */
  private val JvmDir = """graft-jvm-(\d+)@(.+)""".r

  /** Guards the two sets below. A private monitor, not the object's:
    * task threads may initialize this object's lazy vals mid-build.
    */
  private val scratchLock = new Object
  private val ownedRoots = scala.collection.mutable.Set.empty[String]
  private val stagedTrees = scala.collection.mutable.Set.empty[String]

  /** A scratch path of this JVM,
    * `<root>/graft-jvm-<pid>@<host>/<space>/<prefix>_<sf>`. The root is
    * the `graft.fixture.root` system property, else the local tmpdir,
    * resolved on every call (a spec switches it mid-JVM); any Hadoop
    * scheme works. The first use under a root creates the JVM dir empty,
    * registers it for deletion at JVM exit, and deletes the dirs that
    * dead JVMs of this host left there (a crash skips the exit hook). A
    * live pid's dir and another host's dir are never touched.
    */
  private def scratch(space: String, prefix: String, d: String): String =
    scratchLock.synchronized {
      import org.apache.hadoop.fs.Path
      val root = new Path(
        sys.props.getOrElse("graft.fixture.root", sys.props("java.io.tmpdir")))
      val dir = new Path(root, s"graft-jvm-${ProcessHandle.current.pid}@$host")
      if (!ownedRoots(root.toString)) {
        val fs = root.getFileSystem(
          SparkSession.active.sessionState.newHadoopConf())
        if (fs.exists(root)) fs.listStatus(root).map(_.getPath).foreach { p =>
          p.getName match {
            case JvmDir(pid, h) if h == host &&
                ProcessHandle.of(pid.toLong).isEmpty => fs.delete(p, true)
            case _ =>
          }
        }
        fs.delete(dir, true) // a recycled pid's leftover
        fs.mkdirs(dir)
        fs.deleteOnExit(dir)
        ownedRoots += root.toString
      }
      new Path(dir,
        s"$space/${prefix}_" + d.replaceAll("[^A-Za-z0-9._-]", "_")).toString
    }

  /** A gate's working dir for sf `d`, under this JVM's scratch: reruns in
    * one JVM reuse it, and concurrent JVMs never share it.
    */
  private[graft] def gateTmpDir(prefix: String, d: String): String =
    scratch("gate", prefix, d)

  /** Build a gate's staged fixture tree once per JVM and return its path:
    * the envelope serialize, JSON re-parse and slice writes of a gate's
    * inputs are fixture preparation, not the operator under test. The
    * first call for a (prefix, sf) wipes any partial tree and runs `build`
    * on the path; later calls (Bench's second pass, a spec re-running a
    * gate) return it at once. A `build` that throws records nothing, so
    * the next call rebuilds. A fixture is a deterministic function of its
    * recipe and sf, so a rebuild is always correct. Staged trees live
    * apart from [[gateTmpDir]]'s, so a gate wiping its dir never wipes one.
    */
  private[queries] def stageOnce(s: SparkSession, prefix: String, d: String)(
      build: String => Unit): String = scratchLock.synchronized {
    val dir = scratch("staged", prefix, d)
    if (!stagedTrees(dir)) {
      graft.streaming.Drive.fresh(s, dir)
      build(dir)
      stagedTrees += dir
    }
    dir
  }

  /** The staged tree of (prefix, sf) iff [[stageOnce]] built it in this
    * JVM — for specs that re-open a tree some gate staged.
    */
  private[queries] def stagedDirIfReady(s: SparkSession, prefix: String,
      d: String): Option[String] = scratchLock.synchronized {
    Some(scratch("staged", prefix, d)).filter(stagedTrees)
  }

  /** The transactional-update fixture BOTH streaming txn gates stage
    * (one recipe, so the gates and their oracles can never drift apart):
    * update envelopes for id%3=0 in transactions of ≤10 rows
    * (tx = id div 30 + 1), arriving only when id%33≠0 (torn members),
    * END metadata only for tx%5≠0 (END-less transactions), everything
    * stamped at [[FixedTs]]. Returns (events, meta); events carry
    * (tx, lsn, value, ts) — a gate whose stream schema omits `ts`
    * simply never reads the column. The events frame is staged
    * (Materialize.stage — multiple slice writes consume it); the
    * caller unpersists it after its last write.
    */
  private def txnFixture(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val cust = customerNames(s, d)
    val updFull = cust.filter(col("id") % 3 === 0)
      .withColumn("name", upper(col("name")))
    val txOf = expr("id div 30") + 1L
    // producer: the same envelope lines the batch gate parses; the
    // stream consumer re-derives tx/lsn from the raw line (its honest
    // input), so byte passthrough sits inside the gates too
    val envelopes = CdcSource.changes(
      updFull.filter(col("id") % 33 =!= 0), "u", "inventory", "public",
      "customers", col("id") + 10000000L, fixedTsMs = Some(FixedTs),
      txId = Some(txOf))
    val ev = envelopes.select(
      get_json_object(col("value"), "$.source.txId").cast("long").as("tx"),
      get_json_object(col("value"), "$.source.lsn").cast("long").as("lsn"),
      col("value"),
      timestamp_millis(lit(FixedTs)).as("ts"))
      .stage()
    val meta = updFull.select(txOf.as("tx"))
      .groupBy(col("tx")).agg(count(lit(1)).cast("int").as("expected"))
      .filter(col("tx") % 5 =!= 0)
      .withColumn("ts", timestamp_millis(lit(FixedTs)))
    (ev, meta)
  }

  /** The DataSource V2 CDC table (`format("graft-cdc")`,
    * [[graft.sources.CdcTableProvider]]) inside the hash gate: the
    * deterministic change mix is written out as a JSON-lines log
    * directory, read BACK through the V2 scan — file listing, one
    * input partition per log file, Jackson parse of the pruned envelope
    * schema — and folded per op-code into facts the DuckDB oracle
    * recomputes closed-form from `customer` (counts, key sums per image
    * side, max lsn). `sum_before_ids` is non-null only for deletes and
    * `sum_after_ids` only for r/u, so image placement (deletes carry
    * `before`, the rest carry `after`) is hash-checked too.
    */
  def qCdcDsv2Scan(s: SparkSession, d: String): DataFrame = {
    val dir = gateTmpDir("graft_dsv2_scan", d)
    changeMixRaw(s, d).write.mode("overwrite").text(dir)
    s.read.format("graft-cdc").load(dir)
      .groupBy(col("op"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("after.id")).as("sum_after_ids"),
        sum(col("before.id")).as("sum_before_ids"),
        max(col("source.lsn")).as("max_lsn"))
      .orderBy(col("op"))
  }

  /** Schema drift through the DSv2 scan + enrich — the reference's
    * schema-on-read stance (`debezium-postgres-connector.yaml:48-54`
    * forces `Schema.BYTES`; `schemas.enable: "false"`) as a hash gate:
    * the `customers` payload GAINS a column mid-stream (`loyalty_tier`,
    * as after an `ALTER TABLE`), with pre-drift snapshots and post-drift
    * updates landing in the same rolled log. The log is read back
    * through `format("graft-cdc")` with the WIDENED payload DDL — the
    * schema-on-read move a real consumer makes after the ALTER — and
    * through the production enrich path on the raw lines.
    *
    * The gate proves, row by row: (a) the late column surfaces with its
    * value on post-drift records and NULL on records written before its
    * first appearance — never dropped, never corrupted; (b) the
    * dynamic-JSON path needs no DDL at all: enrichment `field_count`
    * reads 3 pre-drift and 4 post-drift from the raw bytes.
    *
    * Scale shape: identical to [[qCdcDsv2Scan]] — per-file partitions,
    * narrow parse/enrich, no shuffle before the presentation sort.
    */
  def qCdcSchemaDrift(s: SparkSession, d: String): DataFrame = {
    val cust = customers(s, d)
    val pre = CdcSource.changes(cust, "r", "inventory", "public",
      "customers", col("id").cast("long"), fixedTsMs = Some(FixedTs))
    // the ALTER: every 2nd key re-emitted as an update whose payload now
    // carries loyalty_tier
    val drifted = cust.filter(col("id") % 2 === 0)
      .withColumn("loyalty_tier",
        concat(lit("T"), (col("id") % 4).cast("string")))
    val post = CdcSource.changes(drifted, "u", "inventory", "public",
      "customers", col("id") + 10000000L, fixedTsMs = Some(FixedTs))
    val dir = gateTmpDir("graft_dsv2_drift", d)
    pre.write.mode("overwrite").text(dir) // generation 1: pre-ALTER files
    post.write.mode("append").text(dir)   // generation 2: post-ALTER files
    val env = s.read.format("graft-cdc")
      .option("payloadDdl",
        "id INT, name STRING, email STRING, loyalty_tier STRING")
      .load(dir)
      .select(col("value"), col("after"), col("op").as("v2_op"),
        col("source.lsn").as("v2_lsn"))
    // production enrich path over the SAME raw lines: the dynamic
    // field_count sees the extra key with no DDL anywhere
    Enrich.withEnrichment(CdcEnvelope.parse(env),
        EnrichConfig(processingTimeIso = Some("2026-01-01T00:00:00")))
      .select(
        col("after.id").as("id"),
        col("v2_op").as("op"),
        col("v2_lsn").as("lsn"),
        col("after.loyalty_tier").as("loyalty_tier"),
        col("after.loyalty_tier").isNotNull.as("has_tier"),
        col("enrichment.data_quality.field_count").as("field_count"))
      .stage() // presentation-sort sampling would re-run the scan
      .orderBy(col("id"), col("lsn"))
  }

  /** The DSv2 micro-batch TAIL inside the hash gate (the batch scan is
    * [[qCdcDsv2Scan]]'s): the change mix lands as a log GROWN IN STAGES —
    * generation 1 (snapshots) is drained by one checkpointed
    * [[CdcPipeline.startV2]] run, generations 2–3 (updates, deletes)
    * arrive while the stream is DOWN, and a second run on the same
    * checkpoint drains exactly the new files. Output materializes
    * through the rename-committed `graft-cdc` sink; the gate folds the
    * final output log per op-code against the SAME closed-form oracle
    * as the batch scan. (Admission pacing has its own spec —
    * `CdcDsv2SourceSpec` "paced" — and stays out of the gate: per-batch
    * fixed overhead would triple the gate's wall time for no extra
    * claim.)
    *
    * What the hash proves: exactly-once across the restart — a replay of
    * generation 1 would double the 'r' counts/sums; a lost generation
    * would drop the 'u'/'d' rows; either mismatches the oracle.
    */
  def qCdcDsv2Tail(s: SparkSession, d: String): DataFrame = {
    // every invocation re-runs the full staged tail from scratch
    val base = graft.streaming.Drive.fresh(s,
      gateTmpDir("graft_dsv2_tail", d))
    val (inDir, outDir, ck) = (s"$base/in", s"$base/out", s"$base/ck")
    val (snaps, upds, dels) = changeMixParts(s, d)
    val cfg = EnrichConfig(processingTimeIso = Some("2026-01-01T00:00:00"))
    // each generation lands through the graft-cdc batch sink: its
    // `b<seq>-p<k>.jsonl` names are monotone across appends (the tail
    // contract), and several files per generation because the V2
    // source's parallel unit is the file
    def land(df: DataFrame, parts: Int): Unit =
      df.repartition(parts).write.format("graft-cdc").mode("append")
        .save(inDir)
    // stage 1: snapshots only, drained by the first checkpointed run
    land(snaps, 8)
    CdcPipeline.startV2(s, inDir, outDir, ck, cfg).awaitTermination()
    // stages 2–3 land while the stream is down; the restart must pick up
    // EXACTLY the new files from the committed offset
    land(upds, 4)
    land(dels, 2)
    CdcPipeline.startV2(s, inDir, outDir, ck, cfg).awaitTermination()
    // fold the materialized output log (enriched {original, enrichment}
    // lines) per op — partial parse of only the probed fields
    val probe = org.apache.spark.sql.types.StructType.fromDDL(
      "original STRUCT<before: STRUCT<id: INT>, after: STRUCT<id: INT>, " +
        "source: STRUCT<lsn: BIGINT>, op: STRING>")
    s.read.text(outDir)
      .select(from_json(col("value"), probe).getField("original").as("o"))
      .groupBy(col("o.op").as("op"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("o.after.id")).as("sum_after_ids"),
        sum(col("o.before.id")).as("sum_before_ids"),
        max(col("o.source.lsn")).as("max_lsn"))
      .orderBy(col("op"))
  }

  /** Latest-state materialization — the consumer-side operator every CDC
    * user builds (SURVEY.md §2.5 "natural v2 feature"): reduce a c/u/d/r
    * change stream to the current table state. A deterministic change mix
    * is synthesized from `customer` (snapshot all, update every 3rd key,
    * delete every 7th), serialized through the full JSON envelope
    * round-trip, then reduced: per key, the max-`lsn` envelope wins and a
    * winning delete removes the row — one window shuffle on the key, which
    * is the minimum any engine needs for this reduction.
    *
    * The oracle derives the SAME final state independently (closed-form
    * from the mod rules), so the gate checks the materialization logic,
    * not a SQL transliteration of it.
    */
  def qCdcLatestState(s: SparkSession, d: String): DataFrame =
    CdcMaterialize.latestState(changeMix(s, d), keyField = "id")
      // the envelope payload schema carries created_at (all-null here:
      // the synthesized change events don't set it) — project it away
      .select(col("id"), col("name"), col("email"), col("last_lsn"))
      .orderBy(col("id"))

  /** SCD2 (slowly-changing-dimension type 2) history materialization — the
    * OTHER consumer-side reduction of a change stream: instead of keeping
    * only the latest image, keep every version with its validity interval
    * [valid_from_lsn, valid_to_lsn) and an is_current flag (open intervals
    * use a -1 sentinel, not NULL — nullable columns sort differently
    * across engines). One window shuffle on the key, same as latest-state.
    *
    * Like [[qCdcLatestState]], the oracle derives the history closed-form
    * from the change-mix mod rules, so the gate exercises the real
    * envelope JSON round-trip + window logic, not a SQL transliteration.
    */
  def qCdcScd2(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = changeMix(s, d).select(
      coalesce(col("envelope.after.id"), col("envelope.before.id")).as("id"),
      col("envelope.source.lsn").as("lsn"),
      col("envelope.op").as("op"),
      coalesce(col("envelope.after.name"), col("envelope.before.name")).as("name"))
    val w = Window.partitionBy(col("id")).orderBy(col("lsn"))
    keyed
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to_lsn", coalesce(lead(col("lsn"), 1).over(w), lit(-1L)))
      .withColumn("is_current", col("valid_to_lsn") === -1L && col("op") =!= "d")
      .select(col("id"), col("version"), col("op"), col("name"),
        col("lsn").as("valid_from_lsn"), col("valid_to_lsn"), col("is_current"))
      .orderBy(col("id"), col("version"))
  }

  /** INCREMENTALLY-maintained SCD2 history
    * ([[graft.cdc.IncrementalScd2]]): the same history table as
    * [[qCdcScd2]], but built by a maintenance STEP instead of a
    * full-log recompute — generation 1 (the snapshot events) bootstraps
    * the history, generation 2 (the update/delete mix) applies as a
    * delta batch that re-derives ONLY the touched keys' version chains
    * (their open intervals close, versions renumber) and carries every
    * untouched key's rows verbatim. `maintained_via` is the
    * incrementality witness inside the hash gate: 'refreshed' on every
    * row of a touched key (id%3=0 ∨ id%7=0 — including its OLD
    * version-1 row, whose interval the step closed), 'carried'
    * elsewhere; the history columns must simultaneously equal the
    * recompute's closed form, so a lost interval close, a version
    * renumbering error, or a carried row that should have refreshed
    * all break the compare.
    *
    * Scale shape: one key window over |touched history| + |Δ| rows and
    * one anti-join carry — O(|Δ| · avg versions) per batch where the
    * batch gate's recompute re-windows the entire log.
    */
  def qCdcScd2Incremental(s: SparkSession, d: String): DataFrame = {
    import graft.cdc.IncrementalScd2
    val cust = customerNames(s, d)
    val lsn0 = col("id").cast("long")
    val e1 = cust.select(col("id"), lit("r").as("op"), lsn0.as("lsn"),
      col("name"))
    // the delete's payload is the BEFORE image (the envelope's only
    // side on op='d') — the original name, as in the batch gate
    val e2 = cust.filter(col("id") % 3 === 0)
      .select(col("id"), lit("u").as("op"), (lsn0 + 10000000L).as("lsn"),
        upper(col("name")).as("name"))
      .unionByName(cust.filter(col("id") % 7 === 0)
        .select(col("id"), lit("d").as("op"),
          (lsn0 + 20000000L).as("lsn"), col("name")))
    val h1 = IncrementalScd2.fromEvents(e1)
      .select(col("id"), col("version"), col("op"), col("name"),
        col("valid_from_lsn"), col("valid_to_lsn"), col("is_current"))
      .stage() // the maintained history generation 2 steps
    IncrementalScd2.step(h1, e2, "maintained_via")
      .orderBy(col("id"), col("version"))
  }

  /** Point-in-time (temporal) join against the SCD2 history: for every
    * order, the customer VERSION that was valid at the order's query LSN —
    * "what did this row look like when the order happened". The probe LSN
    * is synthesized deterministically (`o_orderkey·40000 mod 3·10^7`) to
    * sweep all three version bands of the change mix (r / u / d), so the
    * gate exercises matches against every version kind, including
    * tombstones (op='d' versions are legitimate point-in-time answers:
    * the entity was deleted as of that LSN).
    *
    * Scale shape: [[graft.operators.AsOfJoin.lastBefore]] — ONE key
    * shuffle of each side, no per-row interval probe. SCD2 intervals are
    * half-open and contiguous, so "last version with valid_from ≤ q" IS
    * the interval containment match; ≤ is obtained from the operator's
    * strictly-before contract by probing at q+1 (integer LSNs). Orders
    * whose probe precedes the first version (q < first valid_from) drop
    * out, as a warehouse point-in-time lookup would.
    */
  def qCdcPointInTime(s: SparkSession, d: String): DataFrame = {
    val hist = qCdcScd2(s, d).select(
      col("id"), col("version"), col("op"), col("name"),
      col("valid_from_lsn"))
    val ords = Tables.orders(s, d).select(
      col("o_orderkey"),
      col("o_custkey").cast("int").as("id"),
      (col("o_orderkey") * 40000L % 30000000L).as("q_lsn"))
    graft.operators.AsOfJoin.lastBefore(
      ords.withColumn("probe", col("q_lsn") + 1L), hist,
      key = "id", leftTime = "probe", rightTime = "valid_from_lsn",
      rightCols = Seq("version", "op", "name"),
      rightTiebreak = Some("valid_from_lsn"))
      .filter(col("asof_version").isNotNull)
      .select(col("o_orderkey"), col("id"), col("q_lsn"),
        col("asof_version").cast("int").as("version"),
        col("asof_op").as("op"), col("asof_name").as("name"))
      .orderBy(col("o_orderkey"))
  }

  /** ±1 liveness delta of a change op — the single definition shared by
    * [[qCdcIncrementalAgg]], the streaming foreachBatch twin, and the
    * lifecycle property test, so the mapping cannot drift between them.
    */
  def liveDelta(op: Column): Column =
    when(op.isin("r", "c"), 1L).when(op === "d", -1L).otherwise(0L)

  /** Incremental aggregate maintenance (materialized-view maintenance)
    * from the change stream: per email-domain live-row count and change
    * counters, computed from the DELTAS ONLY — op r/c contribute +1, d
    * contributes −1, u contributes 0 to liveness (this stream's updates
    * can't move a row between domains: email is key-derived). No base
    * table is ever re-scanned.
    *
    * Scale shape: this is THE reason change streams exist — maintaining
    * the aggregate costs O(|changes|) with map-side-combining counters
    * (one tiny shuffle on the group key), where a recompute is an
    * O(|corpus|) scan. In streaming form the same delta column feeds a
    * `groupBy(domain).agg(sum)` with update-mode output; the batch gate
    * here verifies the delta algebra itself.
    */
  def qCdcIncrementalAgg(s: SparkSession, d: String): DataFrame = {
    val env = changeMix(s, d)
    val email = coalesce(
      col("envelope.after.email"), col("envelope.before.email"))
    val delta = liveDelta(col("envelope.op"))
    env
      .select(
        element_at(split(email, "@"), 2).as("email_domain"),
        delta.as("delta"),
        col("envelope.op").as("op"))
      .groupBy(col("email_domain"))
      .agg(
        sum(col("delta")).as("live_count"),
        count(lit(1)).as("n_events"),
        sum(when(col("op") === "u", 1L).otherwise(0L)).as("n_updates"))
      .orderBy(col("email_domain"))
  }

  /** Incremental JOIN-view maintenance ([[graft.cdc.IncrementalJoinView]]
    * — round-6 verdict stretch item #8): maintain `V = customers ⋈
    * balances` (two independent change streams keyed on the customer id)
    * across two change generations, recomputing ONLY delta-touched keys
    * in generation 2 and CARRYING every untouched view row.
    *
    * Fixture lifecycles (closed-form, so the oracle folds them
    * directly): stream A = the customer recipe (snapshot all; gen 2
    * uppercases every 3rd name, deletes every 7th key); stream B =
    * synthetic balances `id·7 mod 1000` (snapshot all; gen 2 adds 500
    * to every 4th key's balance, deletes every 5th key). Generation-2
    * lsns (+10M updates, +20M deletes) strictly follow generation 1's.
    *
    * The `maintained_via` column is the INCREMENTALITY WITNESS inside
    * the hash gate: 'refreshed' exactly for keys generation 2 touched
    * (among survivors: id%3=0 or id%4=0), 'carried' for the rest — a
    * recompute-from-scratch implementation has no generation boundary
    * to derive it from, so the oracle checks the maintenance structure,
    * not just the final join.
    */
  def qCdcJoinView(s: SparkSession, d: String): DataFrame = {
    import graft.cdc.IncrementalJoinView
    val cust = customerNames(s, d)
    val lsn0 = col("id").cast("long")
    val a1 = cust.select(col("id"), lit("r").as("op"), lsn0.as("lsn"),
      col("name"))
    val a2 = cust.filter(col("id") % 3 === 0)
      .select(col("id"), lit("u").as("op"), (lsn0 + 10000000L).as("lsn"),
        upper(col("name")).as("name"))
      .unionByName(cust.filter(col("id") % 7 === 0)
        .select(col("id"), lit("d").as("op"),
          (lsn0 + 20000000L).as("lsn"),
          lit(null).cast("string").as("name")))
    val bal0 = (col("id").cast("long") * 7L % 1000L).as("balance")
    val b1 = cust.select(col("id"), lit("r").as("op"), lsn0.as("lsn"), bal0)
    val b2 = cust.filter(col("id") % 4 === 0)
      .select(col("id"), lit("u").as("op"), (lsn0 + 10000000L).as("lsn"),
        (col("id").cast("long") * 7L % 1000L + 500L).as("balance"))
      .unionByName(cust.filter(col("id") % 5 === 0)
        .select(col("id"), lit("d").as("op"),
          (lsn0 + 20000000L).as("lsn"),
          lit(null).cast("long").as("balance")))
    // generation 1: bootstrap states + the materialized view
    val aState1 = IncrementalJoinView.sideState(a1, "id").stage()
    val bState1 = IncrementalJoinView.sideState(b1, "id").stage()
    val v1 = aState1.drop("lsn").join(bState1.drop("lsn"), "id")
      .select(col("id"), col("name"), col("balance"))
      .stage() // the maintained materialization generation 2 carries
    // generation 2: delta-driven refresh of touched keys only
    val (v2, _, _) = IncrementalJoinView.step(
      v1, aState1, bState1, a2, b2, "id", "maintained_via")
    v2.select(col("id"), col("name"), col("balance"),
        col("maintained_via"))
      .orderBy(col("id"))
  }

  /** Schema-DRIFT-tolerant incremental view maintenance (round-7
    * verdict item #7): the same customers ⋈ balances view as
    * [[qCdcJoinView]], but generation 2's customer delta ADDS a payload
    * column (`tier`) the generation-1 snapshot never had — the upstream
    * table gained a column mid-stream. The maintained view must WIDEN
    * in place, warehouse-style (`ALTER TABLE ADD COLUMN` + null
    * backfill): refreshed rows whose winning image is a gen-2 update
    * carry the new value ('gold'), refreshed rows whose winner is still
    * the gen-1 image (keys touched only through the OTHER side's delta)
    * and all carried rows backfill NULL. The tier column sits inside
    * the hash gate next to the maintained_via witness, so a dropped
    * column, a misplaced backfill, or a widened-but-reordered schema
    * all break the compare. ([[qCdcSchemaDrift]] gates drift for log
    * MATERIALIZATIONS; this gates drift through the IVM state/view
    * machinery.)
    */
  def qCdcViewDrift(s: SparkSession, d: String): DataFrame = {
    import graft.cdc.IncrementalJoinView
    val cust = customerNames(s, d)
    val lsn0 = col("id").cast("long")
    // generation 1: NO tier column anywhere
    val a1 = cust.select(col("id"), lit("r").as("op"), lsn0.as("lsn"),
      col("name"))
    // generation 2: updates arrive WITH the drift column
    val a2 = cust.filter(col("id") % 3 === 0)
      .select(col("id"), lit("u").as("op"), (lsn0 + 10000000L).as("lsn"),
        upper(col("name")).as("name"), lit("gold").as("tier"))
      .unionByName(cust.filter(col("id") % 7 === 0)
        .select(col("id"), lit("d").as("op"),
          (lsn0 + 20000000L).as("lsn"),
          lit(null).cast("string").as("name"),
          lit(null).cast("string").as("tier")))
    val bal0 = (col("id").cast("long") * 7L % 1000L).as("balance")
    val b1 = cust.select(col("id"), lit("r").as("op"), lsn0.as("lsn"), bal0)
    val b2 = cust.filter(col("id") % 4 === 0)
      .select(col("id"), lit("u").as("op"), (lsn0 + 10000000L).as("lsn"),
        (col("id").cast("long") * 7L % 1000L + 500L).as("balance"))
      .unionByName(cust.filter(col("id") % 5 === 0)
        .select(col("id"), lit("d").as("op"),
          (lsn0 + 20000000L).as("lsn"),
          lit(null).cast("long").as("balance")))
    val aState1 = IncrementalJoinView.sideState(a1, "id").stage()
    val bState1 = IncrementalJoinView.sideState(b1, "id").stage()
    val v1 = aState1.drop("lsn").join(bState1.drop("lsn"), "id")
      .select(col("id"), col("name"), col("balance"))
      .stage() // the pre-drift materialization generation 2 widens
    val (v2, _, _) = IncrementalJoinView.step(
      v1, aState1, bState1, a2, b2, "id", "maintained_via")
    v2.select(col("id"), col("name"), col("balance"), col("tier"),
        col("maintained_via"))
      .orderBy(col("id"))
  }

  /** Delta horizon for [[qCdcAggView]]'s generation 2: only keys below
    * this id change, so groups all of whose members sit above it are
    * provably untouched — the carried path exists at every gated SF
    * (without the horizon every group contains some multiple of 3 and
    * the carried branch would never be exercised).
    */
  private val AggViewHorizon = 512

  /** The agg-view fixture's four delta generations `(a1, a2, b1, b2)` —
    * ONE recipe shared by the batch gate [[qCdcAggView]] and the
    * streaming gate [[qCdcStreamIvm]], so the two gates (and their
    * common oracle closed form) can never drift apart.
    */
  private def aggViewFixture(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val cust = Tables.customer(s, d).select(
      col("c_custkey").cast("int").as("id"),
      lower(col("c_mktsegment")).as("seg"))
    val lsn0 = col("id").cast("long")
    val bucket = expr("id div 100").cast("string")
    val inH = col("id") < AggViewHorizon
    val a1 = cust.select(col("id"), lit("r").as("op"), lsn0.as("lsn"),
      concat(col("seg"), lit("-"), bucket).as("g"))
    val a2 = cust.filter(inH && col("id") % 3 === 0)
      .select(col("id"), lit("u").as("op"), (lsn0 + 10000000L).as("lsn"),
        concat(lit("moved-"), bucket).as("g"))
      .unionByName(cust.filter(inH && col("id") % 7 === 0)
        .select(col("id"), lit("d").as("op"), (lsn0 + 20000000L).as("lsn"),
          lit(null).cast("string").as("g")))
    val bal0 = (col("id").cast("long") * 7L % 1000L).as("balance")
    val b1 = cust.select(col("id"), lit("r").as("op"), lsn0.as("lsn"), bal0)
    val b2 = cust.filter(inH && col("id") % 4 === 0)
      .select(col("id"), lit("u").as("op"), (lsn0 + 10000000L).as("lsn"),
        (col("id").cast("long") * 7L % 1000L + 500L).as("balance"))
      .unionByName(cust.filter(inH && col("id") % 5 === 0)
        .select(col("id"), lit("d").as("op"), (lsn0 + 20000000L).as("lsn"),
          lit(null).cast("long").as("balance")))
    (a1, a2, b1, b2)
  }

  /** The agg-view gates' shared preamble over a fixture's
    * `(a1, a2, b1, b2)`: both generation-1 side states and the
    * bootstrap view, staged (the step input, and for the feed gates
    * the diff's before image, the apply base and the w0 build), then
    * ONE maintenance step to generation 2 marked in `touchedCol`.
    * Returns `(agg1, agg2)`.
    */
  private def aggViewStep(fixture: (DataFrame, DataFrame, DataFrame,
      DataFrame), touchedCol: String): (DataFrame, DataFrame) = {
    import graft.cdc.{IncrementalAggView, IncrementalJoinView}
    val (a1, a2, b1, b2) = fixture
    val aState1 = IncrementalJoinView.sideState(a1, "id").stage()
    val bState1 = IncrementalJoinView.sideState(b1, "id").stage()
    val agg1 = IncrementalAggView
      .bootstrap(aState1, bState1, "id", "g", "balance")
      .stage() // the maintained materialization generation 2 merges into
    val (agg2, _, _) = IncrementalAggView.step(agg1, aState1, bState1,
      a2, b2, "id", "g", "balance", touchedCol)
    (agg1, agg2)
  }

  /** The agg view as its feeds carry it: `(g, n_members, total_balance)`. */
  private def balanceView(agg: DataFrame): DataFrame =
    agg.select(col("g"), col("n_members"), col("total").as("total_balance"))

  /** Incremental AGGREGATE-over-join maintenance
    * ([[graft.cdc.IncrementalAggView]]): maintain `V = SELECT g,
    * count(*), sum(balance) FROM customers ⋈ balances GROUP BY g`
    * across two change generations, applying generation 2 as an
    * algebraic delta — retract touched keys' old contributions, insert
    * their refreshed ones, merge per group — never re-aggregating
    * untouched groups.
    *
    * The fixture forces every IVM shape: metric updates (every 4th key
    * +500 shifts its group's sum), GROUP MOVES (every 3rd key's segment
    * changes to 'moved', retracting from its old group and inserting
    * into a new one — the case naive delta re-aggregation gets wrong),
    * and deletes on either side (every 5th/7th key retracts its joined
    * contribution). `maintained_via` is the incrementality witness
    * inside the hash gate: 'delta_applied' exactly for groups the
    * batch's retraction∪insertion sets touch, 'carried' for groups the
    * merge provably never rewrote.
    */
  def qCdcAggView(s: SparkSession, d: String): DataFrame = {
    // generation 2 applied as an algebraic delta onto the bootstrap
    val (_, agg2) = aggViewStep(aggViewFixture(s, d), "maintained_via")
    agg2.select(col("g"), col("n_members"),
        col("total").as("total_balance"), col("maintained_via"))
      .orderBy(col("g"))
  }

  /** VIEW CHANGE FEED — the OUTPUT half of IVM
    * ([[graft.operators.ViewDelta]]): the maintenance gates prove the
    * view's CONTENT stays right; this gate proves the engine can emit
    * the view's OWN deltas between two maintained generations — what a
    * downstream consumer (cache, index, next IVM stage) actually
    * subscribes to, the lakehouse Change-Data-Feed shape. Runs the
    * [[qCdcAggView]] fixture's bootstrap and one maintenance step, then
    * diffs generation 1 → generation 2 on the group key: 'c' for groups
    * the delta created (the move-target `moved-*` groups), 'u' for
    * groups whose count/sum changed, with before/after images; groups
    * the generation never touched (everything beyond the fixture
    * horizon) must be ABSENT — the feed is delta-sized, which the hash
    * enforces because the oracle's full-outer-join diff suppresses
    * unchanged groups too ('d' needs a group emptied by the delta,
    * which this fixture's ~46%-survivor density never produces at any
    * sf; the op is pinned by `ViewDeltaSpec` on a synthetic frame).
    *
    * Scale shape: one group-keyed full-outer join of two view-sized
    * frames + a narrow filter — O(|view|), never O(base); the emitted
    * feed is O(touched groups).
    */
  def qCdcViewChangefeed(s: SparkSession, d: String): DataFrame = {
    val (agg1, agg2) = aggViewStep(aggViewFixture(s, d), "via")
    graft.operators.ViewDelta.diff(
      agg1.select(col("g"), col("n_members"), col("total")),
      agg2.select(col("g"), col("n_members"), col("total")),
      Seq("g"), Seq("n_members", "total"))
      .orderBy(col("g"))
  }

  /** FEED APPLY — the CONSUMER half of the change-feed pair
    * ([[graft.operators.ViewDelta.applyDelta]]): a downstream
    * cache/index holds generation 1 of the view, receives the 1→2
    * feed, and must reconstruct generation 2 WITHOUT reading the
    * producer's base tables — the contract that makes a change feed
    * worth emitting at all. The gate runs the [[qCdcAggView]]
    * bootstrap + one maintenance step, diffs the generations
    * ([[qCdcViewChangefeed]]'s producer side), then applies the feed
    * back onto generation 1 and emits the RECONSTRUCTION; the oracle
    * computes generation 2's rollup directly from the fixture's
    * closed form, so a dropped 'd', a stale image, or a carried key
    * the feed should have replaced all hash-mismatch.
    *
    * Scale shape: the apply is one view-keyed anti-join + an
    * O(|feed|) union — the consumer never touches the base; at 100 TB
    * this is the difference between shipping deltas to N indexes and
    * N full re-materializations.
    */
  def qCdcFeedApply(s: SparkSession, d: String): DataFrame = {
    val (agg1, agg2) = aggViewStep(aggViewFixture(s, d), "via")
    val cols = Seq("n_members", "total_balance")
    val feed = graft.operators.ViewDelta.diff(balanceView(agg1),
      balanceView(agg2), Seq("g"), cols)
    graft.operators.ViewDelta.applyDelta(balanceView(agg1), feed, Seq("g"),
      cols)
      .orderBy(col("g"))
  }

  /** FEED CASCADE — the remaining consumer shape
    * ([[graft.operators.ViewDelta.cascadeAgg]]): a SECOND aggregate
    * stage maintained purely from the FIRST view's change feed, the
    * composability that makes feeds a dataflow primitive rather than a
    * notification (the DBSP/Materialize cascade). The gate bootstraps
    * the [[qCdcAggView]] view (v0), derives its coarser
    * segment-rollup w0 = groups/members/balance per `seg` (the part of
    * `g` before the bucket suffix), runs one maintenance step to v1,
    * diffs v0→v1, and moves w0→w1 FROM THE FEED ALONE — one O(|feed|)
    * signed fold + one group-keyed merge; neither v1 nor any base
    * table is read by the cascade. The oracle computes w1 directly
    * from the post-delta closed form, so a missed retraction, a
    * double-counted upsert, or a downstream group that failed to
    * appear ('moved') or empty out all hash-mismatch.
    *
    * Scale shape: each downstream stage costs O(its own feed) per
    * batch — at 100 TB a chain of N rollups updates for the price of
    * the deltas flowing through it, never N × O(view) recomputes.
    */
  def qCdcFeedCascade(s: SparkSession, d: String): DataFrame = {
    val (agg1, agg2) = aggViewStep(aggViewFixture(s, d), "via")
    val cols = Seq("n_members", "total_balance")
    val segOf = substring_index(col("g"), "-", 1)
    // w0: the downstream rollup of the BOOTSTRAP view
    val w0 = balanceView(agg1).groupBy(segOf.as("seg"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_members")).as("sum_n_members"),
        sum(col("total_balance")).as("sum_total_balance"))
    // w1: maintained from the v0→v1 feed alone
    val feed = graft.operators.ViewDelta.diff(balanceView(agg1),
      balanceView(agg2), Seq("g"), cols)
    graft.operators.ViewDelta.cascadeAgg(w0, feed, segOf, "seg", cols)
      .select(col("seg"), col("n_rows").as("n_groups"),
        col("sum_n_members").as("members"),
        col("sum_total_balance").as("balance"))
      .orderBy(col("seg"))
  }

  /** FEED CASCADE with MIN/MAX — the downstream stage's
    * non-self-maintainable half ([[graft.operators.ViewDelta
    * .cascadeAggStats]], round-12 verdict item #6): the segment rollup
    * now also tracks each segment's smallest and largest group balance,
    * and a signed fold cannot retract an extremum — so feed rows whose
    * `old_total_balance` image sits at or beyond their segment's
    * maintained (mn, mx) boundary trigger a re-aggregation of exactly
    * that segment from the POST-batch upstream view (which the consumer
    * holds — it is `applyDelta`'s output), while count/sum stay on the
    * O(|feed|) algebraic path and unthreatened segments fold
    * least/greatest. The fixture's B-side updates (+500 on %4 ids)
    * push past group maxima and its deletes (%5, %7) retract boundary
    * rows across hundreds of upstream groups, so both the threat and
    * the algebraic paths run at any sf. The oracle computes the full
    * rollup — min/max included — directly from the post-delta closed
    * form, so a threat test that fired too narrowly (stale extremum
    * survives) or too widely with a wrong recompute scope
    * hash-mismatches.
    *
    * Scale shape: O(|feed|) fold + one semi-join-scoped recompute of
    * threatened segments' upstream rows — never O(view); the classic
    * k-reserve refinement (keep each group's k smallest/largest so
    * most boundary retractions re-fold from the reserve) slots behind
    * the same threat test, documented on [[graft.cdc
    * .IncrementalStatsView]].
    */
  def qCdcFeedCascadeMinmax(s: SparkSession, d: String): DataFrame = {
    val (agg1, agg2raw) = aggViewStep(aggViewFixture(s, d), "via")
    val agg2 = agg2raw.stage() // the diff after-image AND the recompute
    val cols = Seq("n_members", "total_balance")
    val segOf = substring_index(col("g"), "-", 1)
    // w0: the downstream rollup of the BOOTSTRAP view, extrema included
    val w0 = balanceView(agg1).groupBy(segOf.as("seg"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_members")).as("sum_n_members"),
        sum(col("total_balance")).as("sum_total_balance"),
        min(col("total_balance")).as("mn"),
        max(col("total_balance")).as("mx"))
    // w1: maintained from the v0→v1 feed + the post-batch upstream view
    // (recompute source for threatened segments only)
    val feed = graft.operators.ViewDelta.diff(balanceView(agg1),
      balanceView(agg2), Seq("g"), cols)
    graft.operators.ViewDelta.cascadeAggStats(w0, feed, balanceView(agg2),
        segOf, "seg", cols, "total_balance")
      .select(col("seg"), col("n_rows").as("n_groups"),
        col("sum_n_members").as("members"),
        col("sum_total_balance").as("balance"),
        col("mn").as("min_balance"), col("mx").as("max_balance"))
      .orderBy(col("seg"))
  }

  /** The STREAMING drive of incremental aggregate-view maintenance
    * inside the hash gate (round-7 verdict item #2 — previously only a
    * spec): the same two-generation fixture as [[qCdcAggView]], but
    * delivered as micro-batches through a real Structured Streaming
    * query with a FULL CHECKPOINT RESTART between the generations.
    * Each micro-batch's foreachBatch reads the newest published state
    * generation, applies [[graft.cdc.IncrementalAggView.step]] (or
    * bootstraps on the first batch), and publishes agg + both side
    * states under a version keyed by the BATCH ID — the idempotent
    * MV-upsert pattern: a crash-replayed micro-batch overwrites its own
    * version, newest-wins reads see either the old or the complete new
    * generation, never a torn one.
    *
    * What the hash proves beyond the batch gate: the maintenance
    * algebra composes with streaming delivery — the restarted run must
    * RESUME from the checkpoint (gen 1 files must not replay into a
    * re-bootstrap, which would flip every marker to `delta_applied`'s
    * bootstrap shape), published state must round-trip parquet
    * losslessly, and the final `maintained_via` markers must equal the
    * batch gate's closed form exactly.
    *
    * Scale shape: per micro-batch cost is the batch step's
    * O(|Δ| + |touched groups|) plus one state read/write — the
    * standard streaming-MV posture (Delta/iceberg MERGE targets); state
    * partitions as in [[graft.streaming.Drive]].
    */
  def qCdcStreamIvm(s: SparkSession, d: String): DataFrame = {
    import graft.cdc.{IncrementalAggView, IncrementalJoinView}
    import graft.streaming.Drive
    val base = Drive.fresh(s, gateTmpDir("graft_stream_ivm", d))
    // side-tagged delta stream: one source carries both sides, split
    // per batch (the one-topic-per-view transport layout)
    val staged = stageOnce(s, "graft_stream_ivm_staged", d) { st =>
      val (a1, a2, b1, b2) = aggViewFixture(s, d)
      sideTag(a1, "a").unionByName(sideTag(b1, "b"))
        .coalesce(1).write.parquet(s"$st/gen1")
      // gen 2 MUST land as one file → one micro-batch, so the final
      // markers are the single-step touched set the oracle folds
      sideTag(a2, "a").unionByName(sideTag(b2, "b"))
        .coalesce(1).write.parquet(s"$st/gen2")
    }
    // generation 1 bootstraps the maintained state; generation 2 lands
    // while the stream is DOWN, and the restarted run must resume from
    // the checkpoint and APPLY it as one step. Each batch's version
    // becomes visible only when its manifest commits, after every kind.
    val drive = Drive.maintain(s, base,
        Seq(Seq(s"$staged/gen1" -> "g1"), Seq(s"$staged/gen2" -> "g2")),
        sideTaggedStream(s)) { batch =>
      val (aDelta, bDelta) = sideDeltas(batch.df)
      val (agg, aS, bS) =
        (batch.before("aState"), batch.before("bState"),
          batch.before("agg")) match {
          case (Some(aS), Some(bS), Some(agg)) =>
            IncrementalAggView.step(agg.drop("via"), aS, bS,
              aDelta, bDelta, "id", "g", "balance", "via")
          case _ =>
            val aS = IncrementalJoinView.sideState(aDelta, "id")
            val bS = IncrementalJoinView.sideState(bDelta, "id")
            (IncrementalAggView
              .bootstrap(aS, bS, "id", "g", "balance")
              .withColumn("via", lit("bootstrap")), aS, bS)
        }
      Seq(Drive.Kinds("aState" -> aS, "bState" -> bS, "agg" -> agg))
    }
    drive.state.readLatest("agg").get
      .select(col("g"), col("n_members"), col("total").as("total_balance"),
        col("via").as("maintained_via"))
      .orderBy(col("g"))
  }

  /** One side of the side-tagged delta layout the two agg-view stream
    * drives share: one source carries both sides, A rows (`side` a)
    * with their group `g`, B rows (`side` b) with their balance `bal`.
    */
  private def sideTag(df: DataFrame, side: String): DataFrame = {
    val hasG = side == "a"
    df.select(lit(side).as("side"), col("id"), col("op"), col("lsn"),
      (if (hasG) col("g") else lit(null).cast("string")).as("g"),
      (if (hasG) lit(null).cast("long") else col("balance")).as("bal"))
  }

  /** The side-tagged stream over a drive's input dir. */
  private def sideTaggedStream(s: SparkSession): String => DataFrame =
    in => s.readStream
      .schema("side STRING, id INT, op STRING, lsn LONG, g STRING, bal LONG")
      .parquet(in)

  /** A side-tagged batch split into its (A, B) deltas. */
  private def sideDeltas(b: DataFrame): (DataFrame, DataFrame) =
    (b.filter(col("side") === "a")
      .select(col("id"), col("op"), col("lsn"), col("g")),
      b.filter(col("side") === "b")
        .select(col("id"), col("op"), col("lsn"), col("bal").as("balance")))

  /** Handle the stream-changefeed drive returns: the maintained
    * [[graft.cdc.VersionedState]], plus the checkpoint path and a
    * single-run closure so `StreamChangefeedSpec` can surgically
    * un-commit the last batch and force a REAL re-delivery (the
    * replay-idempotence proof the gate's hash can't express).
    */
  private[queries] type ChangefeedDrive = graft.streaming.Drive.Maintained

  /** The IN-LOOP change-feed drive (round-11 verdict item #1): the
    * [[qCdcStreamIvm]] maintenance loop, now ALSO publishing the
    * view's own per-micro-batch delta feed FROM the foreachBatch
    * handler — the reference's consumer chain
    * (`/root/reference/docs/architecture.md:54-63`) with the VIEW'S
    * deltas on the wire (the lakehouse Change-Data-Feed shape, live),
    * not a post-hoc diff of two finished generations.
    *
    * Three generations, one micro-batch each, with a full checkpoint
    * restart between every pair: gen 1 bootstraps (its feed is the
    * all-'c' CDF bootstrap snapshot), gen 2 carries the A-side group
    * moves/deletes, gen 3 the B-side balance updates/deletes. Each
    * delta batch runs [[graft.cdc.IncrementalAggView.stepWithTouched]]
    * and publishes `ViewDelta.diffTouched(prev, next, touched)` as its
    * own `feed` kind — written with the other kinds before the
    * version's manifest commits, so a crash between them leaves the
    * previous version current, and the bounded `readLatestBefore` fold makes a checkpoint-
    * replayed batch's feed byte-identical (proven by re-delivery in
    * `StreamChangefeedSpec`). An in-handler `require` witnesses the
    * PRUNED plan: both diff sides must be semi-joined to the step's
    * touched-group frontier before the full-outer diff — O(touched)
    * per batch, never O(view).
    *
    * With `cascade = true` the handler ALSO maintains the DOWNSTREAM
    * cascade stage `down`
    * ([[graft.operators.ViewDelta.cascadeAgg]]) from each batch's feed
    * alone — the full dataflow chain live (stream → view → feed →
    * downstream rollup), every stage under the same bounded-read /
    * manifest-last / replay-idempotent discipline; the bootstrap
    * batch cascades the all-'c' snapshot feed into an empty frame, so
    * one rule (`w += feed`) maintains every batch. The stage reads the
    * feed back from its OWN just-written parquet (the wire a real
    * consumer tails) rather than re-executing the diff lineage. Gated
    * by [[qCdcStreamCascade]]; the flag keeps each gate priced for its
    * own contract ([[qCdcStreamChangefeed]] doesn't pay the extra
    * per-batch publish).
    *
    * RETENTION runs LIVE in the loop (round-11 verdict item #5): the
    * handler prunes to the newest 2 generations after its own publish —
    * the documented ≥ 2 floor of [[graft.cdc.VersionedState.prune]],
    * because a crash between publish and checkpoint-commit re-delivers
    * the batch and its replay folds into the PREVIOUS version, which
    * keepLast = 1 would have swept. After batch 2 the bootstrap
    * generation is genuinely deleted, so the gate's output (and the
    * spec's replay) exercise the post-prune store, not a store that
    * happens to retain everything.
    */
  private[queries] def streamChangefeedDrive(s: SparkSession, d: String,
      base: String, cascade: Boolean = false,
      afterRun: Long => Unit = _ => (),
      extraGen: Boolean = false): ChangefeedDrive = {
    import graft.cdc.{IncrementalAggView, IncrementalJoinView}
    import graft.operators.ViewDelta
    import graft.streaming.Drive
    Drive.fresh(s, base)
    val staged = stageOnce(s, "graft_stream_changefeed_staged", d) { st =>
      val (a1, a2, b1, b2) = aggViewFixture(s, d)
      // one file per generation → one micro-batch each, so every feed
      // version has a closed-form twin the oracle can compute
      sideTag(a1, "a").unionByName(sideTag(b1, "b"))
        .coalesce(1).write.parquet(s"$st/gen1")
      sideTag(a2, "a").coalesce(1).write.parquet(s"$st/gen2")
      sideTag(b2, "b").coalesce(1).write.parquet(s"$st/gen3")
    }
    // the OPTIONAL fourth generation (`extraGen`, the reseed gate's
    // post-recovery increment): a second wave of A-side group moves —
    // every 9th key still alive on the A side relocates to a brand-new
    // 'late-<bucket>' segment (lsn above every gen-2/3 stamp). Staged
    // under its own prefix so the three-generation gates' shared
    // fixture tree is byte-identical with or without it. Keys whose
    // B-side row died in gen 3 are deliberately kept: moving a
    // non-joined A row must touch no view group, which the diff's
    // suppression has to get right.
    val staged4 =
      if (!extraGen) None
      else Some(stageOnce(s, "graft_changefeed_gen4_staged", d) { st =>
        val cust = Tables.customer(s, d).select(
          col("c_custkey").cast("int").as("id"))
        val bucket = expr("id div 100").cast("string")
        cust.filter(col("id") < AggViewHorizon &&
            col("id") % 9 === 0 && col("id") % 7 =!= 0)
          .select(lit("a").as("side"), col("id"), lit("u").as("op"),
            (col("id").cast("long") + 30000000L).as("lsn"),
            concat(lit("late-"), bucket).as("g"),
            lit(null).cast("long").as("bal"))
          .coalesce(1).write.parquet(s"$st/gen4")
      })
    val feedCols = Seq("n_members", "total_balance")
    // the DOWNSTREAM stage's group: the segment prefix of the view key
    val segOf = substring_index(col("g"), "-", 1)
    // batch 0 bootstraps (and emits the all-'c' snapshot feed), batch 1
    // applies the A-side moves/deletes, batch 2 the B-side updates/
    // deletes (prune now drops gen 0), the optional batch 3 the 'late'
    // relocations (prune drops gen 1) — each restart-resumed. afterRun
    // fires between producer generations: the decoupled consumer gate
    // ([[qCdcFeedConsumer]]) drives ITS OWN streaming query there,
    // tailing what the producer published so far. LIVE retention:
    // keepLast = 2, so a batch's own replay (crash before the
    // checkpoint commit) still finds its fold version.
    val gens = (Seq("gen1" -> "g1", "gen2" -> "g2", "gen3" -> "g3")
        .map { case (g, p) => s"$staged/$g" -> p } ++
      staged4.map(s4 => s"$s4/gen4" -> "g4")).map(Seq(_))
    Drive.maintain(s, base, gens, sideTaggedStream(s),
        keepLast = Some(2), afterRun = i => afterRun(i.toLong)) { batch =>
      val id = batch.id
      val (aDelta, bDelta) = sideDeltas(batch.df)
      // bounded reads (< id): a replayed batch folds into the state
      // BEFORE its own publish — which also makes its FEED replay
      // byte-identical (same before, same after, same diff)
      val (agg2, aS2, bS2, feed) =
        (batch.before("aState"), batch.before("bState"),
          batch.before("agg")) match {
          case (Some(aS), Some(bS), Some(agg)) =>
            val (a2, s1, s2, touched) = IncrementalAggView
              .stepWithTouched(agg.drop("via"), aS, bS,
                aDelta, bDelta, "id", "g", "balance", "via")
            val f = ViewDelta.diffTouched(balanceView(agg), balanceView(a2),
              touched, Seq("g"), feedCols)
            // loud witness of the O(touched) shape: BOTH versions
            // must be semi-join-pruned before the full-outer diff
            val semis = f.queryExecution.optimizedPlan.collect {
              case j: org.apache.spark.sql.catalyst.plans.logical.Join
                  if j.joinType ==
                    org.apache.spark.sql.catalyst.plans.LeftSemi => j
            }
            require(semis.size >= 2,
              s"stream changefeed: expected both diff sides " +
                s"semi-pruned to the touched set, got ${semis.size}")
            (a2, s1, s2, f)
          case _ =>
            val aS = IncrementalJoinView.sideState(aDelta, "id")
            val bS = IncrementalJoinView.sideState(bDelta, "id")
            val boot = IncrementalAggView
              .bootstrap(aS, bS, "id", "g", "balance")
              .withColumn("via", lit("bootstrap"))
            // the CDF bootstrap snapshot: everything is a create
            (boot, aS, bS, ViewDelta.diff(
              balanceView(boot).filter(lit(false)), balanceView(boot),
              Seq("g"), feedCols))
        }
      // every kind is written before the version's manifest commits
      // (feed and cascade included). The feed rides its generation id as
      // a COLUMN, not just a path segment: a decoupled consumer tailing
      // the published files ([[graft.cdc.FeedConsumer]]) needs it
      // in-band to dedup at-least-once re-deliveries and detect
      // retention gaps.
      // the CASCADE stage (when the caller gates it), maintained IN the
      // loop purely from this batch's feed
      // (graft.operators.ViewDelta.cascadeAgg) — read back from the
      // feed's OWN just-written parquet, exactly the wire a
      // downstream consumer tails. The bounded read keeps its replay
      // byte-identical exactly like the feed's, and the bootstrap batch
      // cascades the all-'c' snapshot feed into an empty frame, so one
      // rule — the decoupled consumer's own rollup fold — maintains
      // every batch: w += feed
      val downStage = Drive.After("down", () => {
        val published = batch.published("feed")
        graft.cdc.FeedConsumer.rollupFold(batch.before("down"), published,
          segOf, "seg", feedCols)
      })
      Drive.Kinds("feed" -> feed.withColumn("feed_version", lit(id)),
        "aState" -> aS2, "bState" -> bS2, "agg" -> agg2) +:
        (if (cascade) Seq(downStage) else Nil)
    }
  }

  /** The gate over [[streamChangefeedDrive]]: emit the RETAINED feed
    * generations (the bootstrap snapshot feed is pruned by the in-loop
    * retention — exactly as a real CDF consumer tails only recent
    * deltas), version-tagged. The oracle computes all three view
    * generations' closed forms and diffs consecutive pairs with the
    * same full-outer/suppress-unchanged algebra, so a feed row for an
    * untouched group, a missed touched group, a wrong before/after
    * image, a re-bootstrap on either restart, or a non-idempotent feed
    * publish each hash-mismatch.
    *
    * Scale shape: per batch the feed costs O(touched) (witnessed
    * in-handler), the maintenance step O(|Δ| + touched), the retention
    * a directory prune — nothing in the loop is O(base), and the
    * published feed is exactly what a downstream index/cache replays.
    */
  def qCdcStreamChangefeed(s: SparkSession, d: String): DataFrame = {
    val drive = streamChangefeedDrive(s, d,
      gateTmpDir("graft_stream_changefeed", d))
    drive.state.versions.map { v =>
      drive.state.readAt("feed", v).withColumn("version", lit(v))
    }.reduce(_ unionByName _)
      .select(col("version"), col("g"), col("op"),
        col("old_n_members"), col("old_total_balance"),
        col("new_n_members"), col("new_total_balance"))
      .orderBy(col("version"), col("g"))
  }

  /** The IN-LOOP CASCADE gate over [[streamChangefeedDrive]]: the
    * `down` kind is the SECOND aggregate stage, maintained inside the
    * foreachBatch handler purely from each micro-batch's own feed
    * ([[graft.operators.ViewDelta.cascadeAgg]] — the upstream view and
    * the base are never read by the stage), across three micro-batches,
    * two checkpoint restarts, and the live keepLast=2 retention. The
    * oracle computes the downstream segment rollup directly from the
    * final view's closed form, so a missed retraction anywhere in the
    * chain (base delta → view step → feed → cascade), a re-bootstrap
    * on either restart, or a double-applied replay all hash-mismatch —
    * this is the reference's consumer chain
    * (`/root/reference/docs/architecture.md:54-63`) with TWO maintained
    * stages on the wire.
    *
    * Scale shape: the cascade adds O(|feed|) per batch on top of the
    * drive — a chain of N downstream rollups updates for the price of
    * the deltas flowing through it, the dataflow-engine contract.
    */
  def qCdcStreamCascade(s: SparkSession, d: String): DataFrame =
    segRollup(streamChangefeedDrive(s, d,
      gateTmpDir("graft_stream_cascade", d), cascade = true).state)

  /** The segment rollup in a cascade or consumer store's latest `down`,
    * in the output shape its gates share.
    */
  private def segRollup(st: graft.cdc.VersionedState): DataFrame =
    st.readLatest("down").get
      .select(col("seg"), col("n_rows").as("n_groups"),
        col("sum_n_members").as("members"),
        col("sum_total_balance").as("balance"))
      .orderBy(col("seg"))

  /** The published-feed schema [[qCdcFeedConsumer]] (and its spec) tail
    * — what [[streamChangefeedDrive]]'s handler writes per generation.
    */
  private[queries] val ChangefeedSchema: String =
    "g STRING, op STRING, old_n_members BIGINT, old_total_balance " +
      "BIGINT, new_n_members BIGINT, new_total_balance BIGINT, " +
      "feed_version BIGINT"

  /** Build the [[graft.cdc.FeedConsumer]] that tails a
    * [[streamChangefeedDrive]] store's published feed and maintains the
    * segment rollup — shared by the gate and `FeedConsumerSpec`.
    */
  private[queries] def changefeedConsumer(s: SparkSession, base: String,
      name: String, withReseed: Boolean = false,
      publishFeed: Boolean = false): graft.cdc.FeedConsumer =
    graft.cdc.FeedConsumer.rollup(s,
      feedGlob = s"$base/store/feed/v*",
      feedSchema = ChangefeedSchema,
      store = s"$base/$name/store",
      checkpoint = s"$base/$name/ck",
      groupOf = substring_index(col("g"), "-", 1),
      groupName = "seg",
      valueCols = Seq("n_members", "total_balance"),
      reseed = if (!withReseed) None else Some(() => {
        // the producer's latest retained VIEW generation, read from its
        // published store — the snapshot topic a fallen-behind consumer
        // re-bases on (never the producer's base tables)
        val ps = new graft.cdc.VersionedState(s, s"$base/store")
        val v = ps.versions.max
        (v, balanceView(ps.readAt("agg", v)))
      }),
      publishFeed = publishFeed)

  /** The relay feed schema a SECOND-stage consumer tails — what
    * [[changefeedConsumer]]`(publishFeed = true)` publishes per batch:
    * `ViewDelta.diffTouched` images of the segment rollup, plus the
    * in-band watermark row and the consumer-batch version stamp.
    */
  private[queries] val ChainFeedSchema: String =
    "seg STRING, op STRING, old_n_rows BIGINT, old_sum_n_members " +
      "BIGINT, old_sum_total_balance BIGINT, new_n_rows BIGINT, " +
      "new_sum_n_members BIGINT, new_sum_total_balance BIGINT, " +
      "feed_version BIGINT"

  /** The chain's SECOND consumer: tails stage 1's relayed feed (its
    * `feed` kind) and maintains the letter-level rollup — nothing it
    * reads was written by the producer.
    */
  private[queries] def chainStage2Consumer(s: SparkSession, base: String,
      stage1: String, name: String): graft.cdc.FeedConsumer =
    graft.cdc.FeedConsumer.rollup(s,
      feedGlob = s"$base/$stage1/store/feed/v*",
      feedSchema = ChainFeedSchema,
      store = s"$base/$name/store",
      checkpoint = s"$base/$name/ck",
      groupOf = substring(col("seg"), 1, 1),
      groupName = "letter",
      valueCols = Seq("n_rows", "sum_n_members", "sum_total_balance"))

  /** The decoupled MIN/MAX consumer over the same producer feed — see
    * [[graft.cdc.FeedConsumer.minMax]]; shared by the gate and spec.
    */
  private[queries] def changefeedStatsConsumer(s: SparkSession,
      base: String, name: String): graft.cdc.FeedConsumer =
    graft.cdc.FeedConsumer.minMax(s,
      feedGlob = s"$base/store/feed/v*",
      feedSchema = ChangefeedSchema,
      store = s"$base/$name/store",
      checkpoint = s"$base/$name/ck",
      upstreamKeys = Seq("g"),
      groupOf = substring_index(col("g"), "-", 1),
      groupName = "seg",
      valueCols = Seq("n_members", "total_balance"),
      extremumCol = "total_balance")

  /** The DECOUPLED CONSUMER gate (round-12 verdict item #1 — the
    * largest remaining seam): [[qCdcStreamCascade]] proved the cascade
    * ALGEBRA live, but its downstream stage ran inside the producer's
    * own foreachBatch handler; the reference's topology is a producer
    * topic tailed by an INDEPENDENT subscriber
    * (`/root/reference/docs/architecture.md:54-63`,
    * `scripts/verify.sh:404-412` verifies with a separate consumer
    * process). This gate runs that split: the
    * [[streamChangefeedDrive]] producer publishes its per-micro-batch
    * feed (now version-stamped in-band), and a SECOND streaming query —
    * [[graft.cdc.FeedConsumer]], with its OWN checkpoint and its own
    * [[graft.cdc.VersionedState]] — tails the published feed parquet
    * through a file source and maintains the downstream segment rollup
    * via [[graft.operators.ViewDelta.cascadeAgg]]. The consumer runs
    * once after each producer generation, each run a full
    * stop-and-restart resuming from the CONSUMER's checkpoint, against
    * a store the producer is live-pruning to keepLast = 2: everything
    * the consumer knows arrived through the published files.
    *
    * The oracle is [[qCdcStreamCascade]]'s closed form verbatim — the
    * decoupled topology must land on exactly the in-loop cascade's
    * answer — so a missed generation, a double-applied producer replay,
    * a consumer re-bootstrap on restart, or a cascade fold reading
    * anything but the feed all hash-mismatch. The consumer's
    * independence rails (mid-drive kill + re-delivery, falling behind
    * retention fails LOUDLY, multi-generation catch-up in one trigger)
    * are pinned in `FeedConsumerSpec`.
    *
    * Scale shape: producer unchanged (O(|Δ| + touched) per batch);
    * consumer adds one O(|feed|) signed fold + group-keyed merge per
    * generation against its own group-sized state — the topic/
    * subscriber split costs nothing but the files already published.
    */
  def qCdcFeedConsumer(s: SparkSession, d: String): DataFrame = {
    val base = gateTmpDir("graft_feed_consumer", d)
    val consumer = changefeedConsumer(s, base, "consumer")
    streamChangefeedDrive(s, d, base,
      afterRun = _ => consumer.runOnce())
    segRollup(consumer.state)
  }

  /** The RETENTION-RECOVERY gate: a consumer that STARTS after the
    * producer's live keepLast=2 prune has already swept the bootstrap
    * feed — the scenario [[qCdcFeedConsumer]]'s rails only FAIL loudly
    * on (`FeedConsumerSpec` rail 4) — now RECOVERS by re-seeding: it
    * re-derives its rollup from the producer's latest published VIEW
    * snapshot, advances its frontier to the snapshot's version, and
    * resumes tailing. That is the reference stack's own recovery shape
    * lifted one stage: when the WAL a Debezium consumer needs is gone
    * it re-snapshots (`op='r'`, SURVEY §2 S2 / DBLog) and streams from
    * the snapshot's position — snapshot-then-tail at the feed layer.
    *
    * The drive runs FOUR producer generations (`extraGen` — the fourth
    * relocates every 9th surviving key to a brand-new 'late' segment).
    * The consumer first runs after generation 2, hitting the gap
    * (feed v0 swept) and re-seeding from view\@2; after generation 3 it
    * applies feed v3 INCREMENTALLY on top of the re-based rollup —
    * creating the 'late' downstream segment and retracting the moved
    * groups from their old segments purely from the feed. The oracle is
    * the FOUR-generation closed form, so a reseed that read a stale
    * snapshot, a frontier that skipped or double-applied v3, or an
    * incremental path broken by the re-base all hash-mismatch; the
    * provenance markers ('reseed' then 'feed') and replay determinism
    * are pinned in `FeedConsumerSpec`.
    *
    * Scale shape: the reseed is ONE O(|view|) rollup — paid only when
    * retention has already outrun the incremental path (the same price
    * a fresh consumer's bootstrap pays) — and every batch after it is
    * back to the O(|feed|) fold; nothing ever reads a base table.
    */
  def qCdcFeedReseed(s: SparkSession, d: String): DataFrame = {
    val base = gateTmpDir("graft_feed_reseed", d)
    val consumer = changefeedConsumer(s, base, "consumer",
      withReseed = true)
    streamChangefeedDrive(s, d, base, extraGen = true,
      afterRun = gen => if (gen >= 2) consumer.runOnce())
    segRollup(consumer.state)
  }

  /** The FEED-CHAIN gate — aggregates composing down a DECOUPLED
    * dataflow DAG: the producer maintains the group view and publishes
    * its change feed; consumer 1 ([[changefeedConsumer]] with
    * `publishFeed`) tails it, maintains the segment rollup, and RELAYS
    * its own per-batch `ViewDelta.diffTouched` feed (watermark-stamped,
    * version-stamped by ITS batch ids); consumer 2
    * ([[chainStage2Consumer]]) tails THAT and maintains the letter-level
    * rollup. Three streaming queries, three checkpoints, three stores —
    * stage 2 never reads anything the producer wrote. This is the
    * reference's topic topology (`docs/architecture.md:54-63`) extended
    * transitively: enriched topic → subscriber → its OWN topic →
    * further subscriber, the shape a real pipeline fans out in
    * (and the DBSP/Materialize cascade claim, now with every stage on
    * its own wire instead of inside one handler).
    *
    * The oracle computes the letter rollup of the segment rollup of the
    * final view's closed form, so a missed retraction at EITHER relay
    * hop, a double-applied replay at either consumer, or a relay feed
    * row with wrong images all hash-mismatch. The relay rails —
    * watermark rows registering empty generations, stage-2 kill +
    * byte-identical re-delivery, stage-1's own keepLast=2 retention
    * tripping stage 2's gap check when it lags — are pinned in
    * `FeedConsumerSpec`.
    *
    * Scale shape: each hop pays O(its own feed) per batch (the relay
    * diff is touched-pruned), so a DAG of N rollups updates for the
    * price of the deltas flowing through it — never N recomputes, and
    * never N reads of anything upstream of its direct feed.
    */
  def qCdcFeedChain(s: SparkSession, d: String): DataFrame = {
    val base = gateTmpDir("graft_feed_chain", d)
    val c1 = changefeedConsumer(s, base, "stage1", publishFeed = true)
    val c2 = chainStage2Consumer(s, base, "stage1", "stage2")
    streamChangefeedDrive(s, d, base,
      afterRun = _ => { c1.runOnce(); c2.runOnce() })
    c2.state.readLatest("down").get
      .select(col("letter"), col("n_rows").as("n_segs"),
        col("sum_n_rows").as("n_groups"),
        col("sum_sum_n_members").as("members"),
        col("sum_sum_total_balance").as("balance"))
      .orderBy(col("letter"))
  }

  /** The decoupled MIN/MAX consumer gate — the non-self-maintainable
    * aggregate on the consumer side of the wire:
    * [[qCdcFeedCascadeMinmax]] proved the threat/recompute dichotomy as
    * a batch algebra whose recompute read the producer's own view; this
    * gate runs it DECOUPLED ([[graft.cdc.FeedConsumer.minMax]]): a
    * separately-checkpointed tail of the published feed maintains an
    * upstream REPLICA via `ViewDelta.applyDelta` (published first, read
    * back as the threat path's recompute source) and the extrema-bearing
    * segment rollup via `ViewDelta.cascadeAggStats` — across the
    * producer's three generations, the consumer's own restarts, and
    * live keepLast=2 retention on both stores. The fixture drives both
    * extremum paths on the wire: gen 2's group moves retract boundary
    * groups wholesale, gen 3's +500 balance updates push group totals
    * past their segment maxima. The oracle computes the full rollup —
    * min/max included — from the final closed form, so a stale extremum
    * (threat fired too narrowly), a wrong recompute scope, or a replica
    * that drifted from the view all hash-mismatch.
    *
    * Scale shape: O(|feed|) fold + O(|view|+|feed|) replica upsert +
    * recompute scoped to threatened groups' replica rows per batch; the
    * replica is group-cardinality — the same price any downstream
    * index/cache pays, never a base-table read.
    */
  def qCdcFeedConsumerStats(s: SparkSession, d: String): DataFrame = {
    val base = gateTmpDir("graft_feed_consumer_stats", d)
    val consumer = changefeedStatsConsumer(s, base, "stats")
    streamChangefeedDrive(s, d, base,
      afterRun = _ => consumer.runOnce())
    consumer.state.readLatest("down").get
      .select(col("seg"), col("n_rows").as("n_groups"),
        col("sum_n_members").as("members"),
        col("sum_total_balance").as("balance"),
        col("mn").as("min_balance"), col("mx").as("max_balance"))
      .orderBy(col("seg"))
  }

  /** Transaction span for [[qCdcTxnIvm]]: gen-2 delta events commit in
    * transactions of `tx = id div 24 + 1` — each transaction straddles
    * BOTH side tables (the same entity's customer row and balance row
    * change together), so atomicity is genuinely multi-table.
    */
  private val TxnIvmSpan = 24

  /** TRANSACTION-CONSISTENT incremental view maintenance — the
    * composition of the suite's two flagship CDC guarantees:
    * [[qCdcTxnConsistent]]'s whole-transaction release (never observe a
    * torn transaction) driving [[qCdcAggView]]'s algebraic aggregate
    * maintenance (never rescan untouched groups). This is the contract a
    * real warehouse MV under CDC actually needs: applying half a
    * transaction to the view shows phantom states no source snapshot
    * ever exhibited (a balance moved but its owning segment not yet,
    * sums that never existed), even though every individual delta row is
    * valid — exactly why Debezium ships a transaction-metadata topic
    * alongside the data topics
    * (`/root/reference/docs/architecture.md:49-66` consumers).
    *
    * Fixture: the [[aggViewFixture]] generations, with gen-2 events
    * committed in cross-table transactions ([[TxnIvmSpan]]) and BOTH
    * real-world incompleteness modes injected — transactions whose END
    * metadata hasn't arrived (`tx % 5 = 0`, all data present but
    * unappliable) and transactions with a TORN tail (member events for
    * keys ≡ 0 mod 11 still in the capture pipe, so their observed count
    * undershoots the END event's). The consumer counts observed events
    * per txId across both sides, joins the metadata, gates the
    * incremental step to exactly the complete transactions' events, and
    * holds everything else back — those keys' groups must come out
    * `carried` with gen-1 values, NOT `delta_applied` with half a
    * transaction folded in. The oracle re-derives the complete-set from
    * the mod rules closed-form, so applying a torn/in-flight transaction
    * (or dropping a complete one) hash-mismatches.
    *
    * Scale shape: completeness adds ONE map-side-combined count per txId
    * (txIds are dense and tiny relative to events) and two txId-keyed
    * semi-joins on top of the agg-view step's O(|Δ| + |touched groups|);
    * the held-back events are a filter, not state — re-presented by the
    * transport on the next poll (the streaming twin buffers them in
    * [[graft.streaming.TxnConsistentStream]] state instead).
    */
  def qCdcTxnIvm(s: SparkSession, d: String): DataFrame = {
    val (a1, a2raw, b1, b2raw) = aggViewFixture(s, d)
    val txOf = (expr(s"id div $TxnIvmSpan").cast("long") + 1L).as("tx")
    // staged: each side's fixture lineage feeds the expected count, the
    // observed count, and the gated delta — three consumers per side
    val a2t = a2raw.withColumn("tx", txOf).stage()
    val b2t = b2raw.withColumn("tx", txOf).stage()
    // transaction topic: END events (tx, n_expected) for every txn whose
    // END the capture has already emitted — counts over the FULL event
    // set (the producer knows them), arrival-independent
    val meta = a2t.select(col("tx")).unionByName(b2t.select(col("tx")))
      .groupBy(col("tx")).agg(count(lit(1)).as("n_expected"))
      .filter(col("tx") % 5 =!= 0)
    // the data stream: events that have actually arrived
    val arrA = a2t.filter(col("id") % 11 =!= 0)
    val arrB = b2t.filter(col("id") % 11 =!= 0)
    val seen = arrA.select(col("tx")).unionByName(arrB.select(col("tx")))
      .groupBy(col("tx")).agg(count(lit(1)).as("n_seen"))
    val ok = seen.join(meta, "tx")
      .filter(col("n_seen") === col("n_expected"))
      .select(col("tx"))
      .stage() // both sides' release semi-joins read it
    val a2 = arrA.join(ok, Seq("tx"), "left_semi").drop("tx")
    val b2 = arrB.join(ok, Seq("tx"), "left_semi").drop("tx")
    // released events flow through the UNCHANGED agg-view machinery
    val (_, agg2) = aggViewStep((a1, a2, b1, b2), "maintained_via")
    agg2.select(col("g"), col("n_members"),
        col("total").as("total_balance"), col("maintained_via"))
      .orderBy(col("g"))
  }

  /** BITEMPORAL point-in-time lookup — the dimension [[qCdcPointInTime]]
    * cannot answer: that gate time-travels along VALID time only ("what
    * was the name when lsn V committed"); a real warehouse also needs
    * TRANSACTION time ("what did we BELIEVE about lsn V's state when we
    * ran the report at time T"), because late-arriving CORRECTIONS
    * revise history after the fact — the SQL:2011 bitemporal model, and
    * the reason regulated reporting keeps both axes (a restated number
    * must be reproducible both as-restated and as-originally-reported).
    *
    * Every event carries (valid_lsn, recorded_lsn); the as-of(V, T)
    * winner per key is max-(valid_lsn, recorded_lsn) among events with
    * valid_lsn ≤ V AND recorded_lsn ≤ T — a correction shares its
    * target's valid lsn and supersedes it by recorded lsn, but ONLY for
    * readers whose knowledge horizon has reached it.
    *
    * Fixture (closed-form mod rules): snapshot (V=id, T=id); every 3rd
    * key a real update (V=T=id+10M); every 4th key a LATE CORRECTION of
    * the ORIGINAL record (V=id — same valid time — T=id+20M). The gate
    * emits three beliefs per key: snapshot-era state as known BEFORE
    * corrections landed (must be the original), the same valid instant
    * as known AFTER (must be the corrected text for %4 keys — history
    * revised), and update-era state at full knowledge (the %3 update
    * where present, else the corrected/original snapshot — %12 keys
    * prove the update outranks the correction on the valid axis).
    *
    * Scale shape: three filtered rank-1 folds over the event stream,
    * each one key-partitioned shuffle with map-side combine — the same
    * irreducible cost as latest-state; the three arms join on the key.
    * No window over unbounded history, no per-(V,T) rescan beyond the
    * filters.
    */
  def qCdcBitemporal(s: SparkSession, d: String): DataFrame = {
    val cust = customerNames(s, d)
    val idL = col("id").cast("long")
    val snap = cust.select(col("id"), col("name"),
      idL.as("vlsn"), idL.as("rlsn"))
    val upd = cust.filter(col("id") % 3 === 0)
      .select(col("id"), upper(col("name")).as("name"),
        (idL + 10000000L).as("vlsn"), (idL + 10000000L).as("rlsn"))
    val corr = cust.filter(col("id") % 4 === 0)
      .select(col("id"), concat(col("name"), lit(" (corrected)")).as("name"),
        idL.as("vlsn"), (idL + 20000000L).as("rlsn"))
    val ev = snap.unionByName(upd).unionByName(corr)
      .stage() // the three as-of arms share one materialization
    def asOf(vCap: Column, tCap: Column, out: String): DataFrame = {
      val known = ev.filter(col("vlsn") <= vCap && col("rlsn") <= tCap)
      known.groupBy(col("id")).agg(RankOne.of(known, col("name"),
        col("vlsn").desc, col("rlsn").desc).as(out))
    }
    asOf(idL + 1L, idL + 15000000L, "name_v1_t1")
      .join(asOf(idL + 1L, idL + 25000000L, "name_v1_t2"), "id")
      .join(asOf(idL + 10000001L, idL + 25000000L, "name_v2_t2"), "id")
      .orderBy(col("id"))
  }

  /** N:1 FOREIGN-KEY incremental join-view maintenance
    * ([[graft.cdc.IncrementalFkJoinView]] — round-7 verdict item #1):
    * maintain `V = orders ⋈ customers ON orders.cust_id = d_id` — the
    * fact-dim enrichment every warehouse materializes — across two
    * change generations, where a SINGLE dim delta fans out to MANY
    * fact-side view rows through touched-key propagation.
    *
    * Fixture lifecycles (closed-form, so the oracle folds them
    * directly): fact stream = orders snapshot (amount = orderkey·3 mod
    * 1000); gen 2 RE-POINTS every 9th order's fk to (orderkey mod
    * 100)+1 with +5000 amount (the fk-move case — the new dim may be
    * UNTOUCHED, so the rebuild must read the full post-batch dim
    * state) and deletes every 11th order. Dim stream = customers
    * snapshot; gen 2 prefixes every 10th customer's segment with
    * 'vip:' (fans out to ALL its orders) and deletes every 13th
    * customer (drops ALL its orders' view rows). Generation-2 lsns
    * strictly follow generation 1's.
    *
    * `maintained_via` is the incrementality witness inside the hash
    * gate: 'refreshed' exactly for orders the batch touched — directly
    * (orderkey%9=0) or through the dim fan-out (pre-batch custkey%10=0
    * ∨ %13=0) — and 'carried' for the rest; a recompute-from-scratch
    * has no generation boundary to derive the fan-out frontier from.
    */
  def qCdcFkView(s: SparkSession, d: String): DataFrame = {
    import graft.cdc.{IncrementalFkJoinView, IncrementalJoinView}
    val ords = Tables.orders(s, d).select(
      col("o_orderkey").cast("int").as("order_id"),
      col("o_custkey").cast("int").as("cust_id"))
    val flsn = col("order_id").cast("long")
    val amt0 = col("order_id").cast("long") * 3L % 1000L
    val f1 = ords.select(col("order_id"), lit("r").as("op"),
      flsn.as("lsn"), col("cust_id"), amt0.as("amount"))
    val f2 = ords.filter(col("order_id") % 9 === 0)
      .select(col("order_id"), lit("u").as("op"),
        (flsn + 10000000L).as("lsn"),
        (col("order_id") % 100 + 1).as("cust_id"),
        (amt0 + 5000L).as("amount"))
      .unionByName(ords.filter(col("order_id") % 11 === 0)
        .select(col("order_id"), lit("d").as("op"),
          (flsn + 20000000L).as("lsn"),
          lit(null).cast("int").as("cust_id"),
          lit(null).cast("long").as("amount")))
    val cust = Tables.customer(s, d).select(
      col("c_custkey").cast("int").as("d_id"),
      lower(col("c_mktsegment")).as("seg"))
    val dlsn = col("d_id").cast("long")
    val d1 = cust.select(col("d_id"), lit("r").as("op"), dlsn.as("lsn"),
      col("seg"))
    val d2 = cust.filter(col("d_id") % 10 === 0)
      .select(col("d_id"), lit("u").as("op"),
        (dlsn + 10000000L).as("lsn"),
        concat(lit("vip:"), col("seg")).as("seg"))
      .unionByName(cust.filter(col("d_id") % 13 === 0)
        .select(col("d_id"), lit("d").as("op"),
          (dlsn + 20000000L).as("lsn"),
          lit(null).cast("string").as("seg")))
    // generation 1: bootstrap states + the materialized fact-dim view
    val fState1 = IncrementalJoinView.sideState(f1, "order_id").stage()
    val dState1 = IncrementalJoinView.sideState(d1, "d_id").stage()
    val v1 = fState1.drop("lsn")
      .join(dState1.drop("lsn"), col("cust_id") === col("d_id"))
      .drop("d_id")
      .select(col("order_id"), col("cust_id"), col("amount"), col("seg"))
      .stage() // the maintained materialization generation 2 carries
    // generation 2: touched-key propagation through the N:1 join
    val (v2, _, _) = IncrementalFkJoinView.step(
      v1, fState1, dState1, f2, d2, "order_id", "cust_id", "d_id",
      "maintained_via")
    v2.select(col("order_id"), col("cust_id"), col("amount"),
        col("seg"), col("maintained_via"))
      .orderBy(col("order_id"))
  }

  /** Delta horizon for [[qCdcFkAggView]]'s generation 2: both delta
    * streams only touch keys whose (pre-batch) customer id sits below
    * it, so every group over higher id-buckets is provably untouched —
    * the carried path exists at both gated SFs (customer buckets reach
    * 14 at sf0.01, 149 at sf0.1; re-pointed fks land ≤ 100 < 512).
    */
  private val FkAggHorizon = 512

  /** The FK-agg change fixture — ONE recipe shared by the batch gate
    * ([[qCdcFkAggView]]) and its streaming drive ([[qCdcFkStreamIvm]]),
    * so the two gates and their common oracle can never drift apart.
    * Returns (factGen1, factGen2, dimGen1, dimGen2).
    */
  private def fkAggFixture(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val H = FkAggHorizon
    val ords = Tables.orders(s, d).select(
      col("o_orderkey").cast("int").as("order_id"),
      col("o_custkey").cast("int").as("cust_id"))
    val flsn = col("order_id").cast("long")
    val amt0 = col("order_id").cast("long") * 3L % 1000L
    val inH = col("cust_id") < H
    val f1 = ords.select(col("order_id"), lit("r").as("op"),
      flsn.as("lsn"), col("cust_id"), amt0.as("amount"))
    val f2 = ords.filter(col("order_id") % 9 === 0 && inH)
      .select(col("order_id"), lit("u").as("op"),
        (flsn + 10000000L).as("lsn"),
        (col("order_id") % 100 + 1).as("cust_id"),
        (amt0 + 5000L).as("amount"))
      .unionByName(ords.filter(col("order_id") % 11 === 0 && inH)
        .select(col("order_id"), lit("d").as("op"),
          (flsn + 20000000L).as("lsn"),
          lit(null).cast("int").as("cust_id"),
          lit(null).cast("long").as("amount")))
    val cust = Tables.customer(s, d).select(
      col("c_custkey").cast("int").as("d_id"),
      lower(col("c_mktsegment")).as("seg"))
    val bucket = expr("d_id div 100").cast("string")
    val dlsn = col("d_id").cast("long")
    val dInH = col("d_id") < H
    val d1 = cust.select(col("d_id"), lit("r").as("op"), dlsn.as("lsn"),
      concat(col("seg"), lit("-"), bucket).as("g"))
    val d2 = cust.filter(col("d_id") % 10 === 0 && dInH)
      .select(col("d_id"), lit("u").as("op"),
        (dlsn + 10000000L).as("lsn"),
        concat(lit("vip-"), bucket).as("g"))
      .unionByName(cust.filter(col("d_id") % 13 === 0 && dInH)
        .select(col("d_id"), lit("d").as("op"),
          (dlsn + 20000000L).as("lsn"),
          lit(null).cast("string").as("g")))
    (f1, f2, d1, d2)
  }

  /** AGGREGATE over the N:1 foreign-key join, incrementally maintained
    * ([[graft.cdc.IncrementalFkAggView]] — the composition of the
    * round-8 FK fan-out machinery with the algebraic group deltas):
    * maintain `V = SELECT dim.g, count(*), sum(orders.amount) FROM
    * orders ⋈ customers GROUP BY dim.g` — the metric on the FACT side,
    * the group on the DIM side — across two change generations.
    *
    * The fixture forces every composite shape: a dim update REWRITES
    * its group attribute (`seg-bucket` → `vip-bucket`), MOVING all its
    * orders' contributions between groups (the fan-out × group-move
    * case neither parent gate exercises); a dim delete retracts all
    * its orders' contributions; a fact fk re-point moves one
    * contribution between possibly-untouched dims' groups; a fact
    * delete retracts one. All deltas respect [[FkAggHorizon]] so
    * high-bucket groups ride the carried path. `maintained_via` is the
    * incrementality witness: `delta_applied` exactly for groups in the
    * retraction∪insertion sets, `carried` for groups the merge never
    * rewrote — a recompute has no generation boundary to derive it.
    */
  def qCdcFkAggView(s: SparkSession, d: String): DataFrame = {
    import graft.cdc.{IncrementalFkAggView, IncrementalJoinView}
    val (f1, f2, d1, d2) = fkAggFixture(s, d)
    // generation 1: bootstrap states + the materialized rollup
    val fState1 = IncrementalJoinView.sideState(f1, "order_id").stage()
    val dState1 = IncrementalJoinView.sideState(d1, "d_id").stage()
    val agg1 = IncrementalFkAggView
      .bootstrap(fState1, dState1, "order_id", "cust_id", "d_id",
        "g", "amount")
      .stage() // the maintained materialization generation 2 merges into
    // generation 2: fan-out retraction/insertion deltas
    val (agg2, _, _) = IncrementalFkAggView.step(agg1, fState1, dState1,
      f2, d2, "order_id", "cust_id", "d_id", "g", "amount",
      "maintained_via")
    agg2.select(col("g"), col("n_members"),
        col("total").as("total_amount"), col("maintained_via"))
      .orderBy(col("g"))
  }

  /** STREAMING drive of the N:1 foreign-key aggregate maintenance — the
    * [[qCdcStreamIvm]] pattern over the [[qCdcFkAggView]] machinery,
    * closing the round-8 gap (the FK family was batch-gated only while
    * the reference's consumers maintain exactly this shape from live
    * change streams, `/root/reference/docs/architecture.md:49-66`).
    *
    * One side-tagged parquet stream carries both the fact and dim change
    * feeds (the one-topic-per-view transport layout). Generation 1
    * arrives as one micro-batch and BOOTSTRAPS the fan-out states + the
    * rollup; the stream then STOPS, generation 2 lands while it is down,
    * and a restarted run must RESUME from the checkpoint and apply gen 2
    * as one [[graft.cdc.IncrementalFkAggView.step]] — a re-bootstrap on
    * restart would flip every marker to `bootstrap`/`delta_applied`'s
    * shape, and a torn or non-idempotent state publish would shift a
    * group. State versions publish through [[graft.cdc.VersionedState]]
    * (Hadoop FileSystem API, batch-id-keyed idempotent overwrites,
    * each version committed by its manifest after every kind).
    *
    * The oracle is IDENTICAL to the batch gate's closed form — the
    * maintained view must not depend on the delivery mode.
    *
    * Scale shape: per micro-batch cost is the batch step's
    * O(|Δ| + fan-out + |touched groups|) plus one state read/write;
    * state partitions as in [[graft.streaming.Drive]].
    */
  def qCdcFkStreamIvm(s: SparkSession, d: String): DataFrame =
    fkStreamDrive(s, d, gateTmpDir("graft_fk_stream_ivm", d))
      .readLatest("agg").get
      .select(col("g"), col("n_members"), col("total").as("total_amount"),
        col("via").as("maintained_via"))
      .orderBy(col("g"))

  /** The FK streaming-IVM drive as a reusable loop (shared by
    * [[qCdcFkStreamIvm]] and [[qCdcMvStreamIvm]], which routes a query
    * onto the state this drive maintains): stage the two-generation
    * side-tagged change feed once per (JVM, sf), run generation 1 as a
    * bootstrap micro-batch, STOP, land generation 2 while the stream is
    * down, and restart so the checkpoint-resumed run applies it as one
    * [[graft.cdc.IncrementalFkAggView.step]]. Returns the
    * [[graft.cdc.VersionedState]] holding the maintained rollup and
    * both side states under `base` (which is wiped first — each caller
    * drives into its own gate dir so concurrent gates never share a
    * store or checkpoint).
    */
  private def fkStreamDrive(s: SparkSession, d: String, base: String)
      : graft.cdc.VersionedState = {
    import graft.cdc.{IncrementalFkAggView, IncrementalJoinView}
    import graft.streaming.Drive
    Drive.fresh(s, base)
    val staged = stageOnce(s, "graft_fk_stream_ivm_staged", d) { st =>
      val (f1, f2, d1, d2) = fkAggFixture(s, d)
      def tag(df: DataFrame, side: String, isFact: Boolean): DataFrame =
        df.select(lit(side).as("side"),
          (if (isFact) col("order_id") else col("d_id")).as("id"),
          col("op"), col("lsn"),
          (if (isFact) col("cust_id") else lit(null).cast("int")).as("fk"),
          (if (isFact) col("amount") else lit(null).cast("long"))
            .as("amount"),
          (if (isFact) lit(null).cast("string") else col("g")).as("g"))
      // each generation MUST land as one file → one micro-batch, so the
      // final markers are the single-step touched set the oracle folds
      tag(f1, "f", isFact = true).unionByName(tag(d1, "d", isFact = false))
        .coalesce(1).write.parquet(s"$st/gen1")
      tag(f2, "f", isFact = true).unionByName(tag(d2, "d", isFact = false))
        .coalesce(1).write.parquet(s"$st/gen2")
    }
    // generation 1 bootstraps the maintained state; generation 2 lands
    // while the stream is DOWN and the restarted run must resume from
    // the checkpoint and APPLY it as one step
    Drive.maintain(s, base,
        Seq(Seq(s"$staged/gen1" -> "g1"), Seq(s"$staged/gen2" -> "g2")),
        in => s.readStream
          .schema("side STRING, id INT, op STRING, lsn LONG, " +
            "fk INT, amount LONG, g STRING")
          .parquet(in)) { batch =>
      val b = batch.df
      val fDelta = b.filter(col("side") === "f")
        .select(col("id").as("order_id"), col("op"), col("lsn"),
          col("fk").as("cust_id"), col("amount"))
      val dDelta = b.filter(col("side") === "d")
        .select(col("id").as("d_id"), col("op"), col("lsn"), col("g"))
      val (agg, fS, dS) =
        (batch.before("fState"), batch.before("dState"),
          batch.before("agg")) match {
          case (Some(fS), Some(dS), Some(agg)) =>
            IncrementalFkAggView.step(agg.drop("via"), fS, dS,
              fDelta, dDelta, "order_id", "cust_id", "d_id", "g",
              "amount", "via")
          case _ =>
            val fS = IncrementalJoinView.sideState(fDelta, "order_id")
            val dS = IncrementalJoinView.sideState(dDelta, "d_id")
            (IncrementalFkAggView
              .bootstrap(fS, dS, "order_id", "cust_id", "d_id",
                "g", "amount")
              .withColumn("via", lit("bootstrap")), fS, dS)
        }
      Seq(Drive.Kinds("fState" -> fS, "dState" -> dS, "agg" -> agg))
    }.state
  }

  /** MV routing onto a STREAMING-maintained materialization — the last
    * composition seam (round-10 verdict item #1) and the reference's
    * consumer shape with the stream IN the loop
    * (`/root/reference/docs/architecture.md:49-66`): a dashboard query
    * transparently routed onto a rollup a live change stream keeps
    * fresh. The [[fkStreamDrive]] loop maintains the N:1 fact⋈dim
    * rollup through real foreachBatch micro-batches WITH the checkpoint
    * restart between generations; the drive's final
    * [[graft.cdc.VersionedState]] version — the stream's published
    * output, not any batch recompute — is then registered with
    * [[graft.plans.MvRewrite]] under a join-bearing
    * [[graft.plans.MvRewrite.JoinSpec]], and a plain fact⋈dim aggregate
    * over the post-delta base parquets is routed onto it.
    *
    * The oracle is the FK batch gate's closed form verbatim (the fourth
    * gate on that one oracle: batch step, streaming drive, batch-state
    * routing, and now streaming-state routing must all land on the same
    * answer), so the hash proves the streaming-maintained state is
    * exactly what the routed query's base semantics demand; the in-gate
    * `require` proves the plan read the MV and NEITHER base; and the
    * `maintained_via` markers prove WHICH delivery path maintained each
    * group (a re-bootstrap on restart flips every marker and
    * hash-fails — routing cannot launder a broken drive).
    *
    * Scale shape: maintenance cost is the drive's (per micro-batch
    * O(|Δ| + fan-out + touched groups)); the routed read is O(groups).
    * This is the full streaming-warehouse loop at 100 TB: change stream
    * in, always-fresh rollup out, consumer queries never touching the
    * fact table.
    */
  def qCdcMvStreamIvm(s: SparkSession, d: String): DataFrame = {
    import graft.plans.MvRewrite
    val base = gateTmpDir("graft_mv_stream_ivm", d)
    val state = fkStreamDrive(s, d, base)
    val (mvPath, factPath, dimPath) =
      (s"$base/smv", s"$base/sfact", s"$base/sdim")
    // publish the STREAM-maintained rollup and the post-delta base
    // tables (the live joined state a consumer's base tables would
    // hold) as parquet the registration and the routed query read
    val agg = state.readLatest("agg").get
    agg.select(col("g"), col("n_members"), col("total"))
      .write.mode("overwrite").parquet(mvPath)
    state.readLatest("fState").get
      .select(col("order_id"), col("cust_id"), col("amount"))
      .write.mode("overwrite").parquet(factPath)
    state.readLatest("dState").get
      .select(col("d_id"), col("g"))
      .write.mode("overwrite").parquet(dimPath)
    // the registration carries the freshness token (round-12): it is
    // certified against the drive's CURRENT committed version, so if a
    // later maintenance batch published behind this gate's back the
    // rule would fall through to the base instead of serving the
    // now-stale mvPath copy — the q_cdc_mv_fresh rail on the flagship
    val rule = MvRewrite.install(s, MvRewrite.Registration(
      baseTag = "sfact", groupCols = Seq("g"),
      aggSpecs = Seq(("count", None), ("sum", Some("amount"))),
      mv = () => s.read.parquet(mvPath),
      join = Some(MvRewrite.JoinSpec("sfact", "sdim",
        "cust_id", "d_id")),
      freshness = Some(MvRewrite.Freshness(() => state.latestVersion,
        state.latestVersion.getOrElse(sys.error(
          "q_cdc_mv_stream_ivm: drive published no version"))))))
    val routed =
      try routedToMv(s,
        s.read.parquet(factPath)
          .join(s.read.parquet(dimPath), col("cust_id") === col("d_id"))
          .groupBy(col("g"))
          .agg(count(lit(1)).as("n_members"),
            sum(col("amount")).as("total_amount")),
        "smv", "sfact", "sdim")
      finally MvRewrite.uninstall(s, rule)
    routed
      .join(agg.select(col("g"), col("via").as("maintained_via")),
        Seq("g"))
      .select(col("g"), col("n_members"), col("total_amount"),
        col("maintained_via"))
      .orderBy(col("g"))
  }

  /** TIME TRAVEL over maintained state — the reproducibility read every
    * training-data pipeline eventually needs ("rebuild the dataset the
    * model actually saw"): [[graft.cdc.VersionedState]] keeps one
    * complete generation per applied micro-batch, so an AS-OF read is a
    * version lookup, not a replay. The gate runs the [[fkStreamDrive]]
    * loop (foreachBatch, checkpoint restart between generations) and
    * then reads the SAME state kind at TWO versions — `as of` the
    * bootstrap batch (`readLatestBefore("agg", 1)`, the pre-delta
    * rollup) and latest — emitting both under a version tag. The
    * oracle computes generation 1's rollup from the RAW gen-1 closed
    * form (all orders ⋈ all customers, pre-delta amounts/groups) and
    * generation 2's from the FK gate's post-delta closed form, so the
    * hash proves the v0 snapshot is bit-faithfully the bootstrap — a
    * maintenance step that mutated v0 in place, or a publish that
    * clobbered the history, fails here even while every latest-read
    * gate still passes.
    *
    * Scale shape: an as-of read costs one O(groups) version read — no
    * log replay; retention is a directory-prune policy (documented on
    * [[graft.cdc.VersionedState]]), exactly the lakehouse time-travel
    * contract.
    */
  def qCdcStateAsof(s: SparkSession, d: String): DataFrame = {
    val state = fkStreamDrive(s, d, gateTmpDir("graft_state_asof", d))
    // batch ids are deterministic: gen 1 = batch 0, gen 2 = batch 1
    val v0 = state.readLatestBefore("agg", 1L).getOrElse(
      sys.error("q_cdc_state_asof: no version below batch 1 published"))
    val v1 = state.readLatest("agg").get
    v0.select(lit(0L).as("version"), col("g"), col("n_members"),
        col("total").as("total_amount"))
      .unionByName(v1.select(lit(1L).as("version"), col("g"),
        col("n_members"), col("total").as("total_amount")))
      .orderBy(col("version"), col("g"))
  }

  /** Take the MV gates' loud plan witness on `q` — the optimized plan
    * must read an `mvTag` path and must NOT read the `baseTag` path —
    * then return the ALREADY-ROUTED plan as a DataFrame. Returning the
    * routed plan (rather than the lazy query) is what lets the caller
    * uninstall the rewrite rule at gate exit: the driver's terminal
    * write re-plans THIS routed tree (the MV scan is a leaf in it), so
    * the executed plan reads the MV without the rule staying live for
    * unrelated later queries (round-9 advisory: the session-global rule
    * could silently reroute any future bare aggregate over the base).
    */
  private def routedToMv(s: SparkSession, q: DataFrame, mvTag: String,
      baseTags: String*): DataFrame = {
    val opt = q.queryExecution.optimizedPlan
    val leaves = scannedRoots(opt)
    // join-bearing callers pass BOTH base tags (round-11 advisory: a
    // fact-only check would let a plan that re-read the dim slip by)
    require(leaves.exists(_.contains(mvTag)) &&
      baseTags.forall(t => !leaves.exists(_.contains(t))),
      s"MV rewrite did not fire: plan reads $leaves")
    org.apache.spark.sql.GraftSqlBridge.ofRows(s, opt)
  }

  /** MV-AWARE QUERY REWRITE ([[graft.plans.MvRewrite]]) — the optimizer
    * half of the IVM family: the `Incremental*` operators keep a rollup
    * fresh in O(Δ); this gate proves queries can USE it transparently.
    * A plain aggregate over the RAW base parquet is rewritten by a
    * Catalyst `Rule[LogicalPlan]` to scan the materialized view
    * instead; the result must still hash-match a DuckDB oracle that
    * computes from the BASE table (the rewrite is semantics-preserving
    * or the gate fails), and an in-gate `require` on the optimized plan
    * fails LOUDLY if the rewrite did not fire — a silent fall-through
    * to the base scan cannot masquerade as a pass.
    *
    * Scale shape: the rewritten query reads O(groups) rows instead of
    * scanning + shuffling the base table — the MV-routing payoff that
    * makes incremental maintenance worth operating at 100 TB.
    */
  def qCdcMvRewrite(s: SparkSession, d: String): DataFrame = {
    import graft.plans.MvRewrite
    val basePath = s"$d/customer.parquet"
    def aggOverBase: DataFrame = s.read.parquet(basePath)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("c_custkey")).as("key_sum"))
    // materialize the view once per (JVM, sf) BEFORE installing the
    // rule — the build query matches the registered shape and a live
    // rule would rewrite it to read the files it is about to write
    val mvPath = stageOnce(s, "graft_mv_rewrite", d) { st =>
      aggOverBase.write.parquet(st)
    }
    val rule = MvRewrite.install(s, MvRewrite.Registration(
      baseTag = "customer.parquet",
      groupCols = Seq("c_mktsegment"),
      aggSpecs = Seq(("count", None), ("sum", Some("c_custkey"))),
      mv = () => s.read.parquet(mvPath)))
    try routedToMv(s, aggOverBase.orderBy(col("c_mktsegment")),
      "graft_mv_rewrite", "customer.parquet")
    finally MvRewrite.uninstall(s, rule)
  }

  /** The (segment, nation) count/sum materialization THREE routing
    * gates share ([[qCdcMvRollup]], [[qCdcMvHaving]], [[qCdcMvMulti]])
    * — one logical view, so it is built ONCE per (JVM, sf) into one
    * staged path and registered from one spec (round-11 review: the
    * per-gate copies tripled the build I/O and had to be kept in sync
    * by hand). Returns (mvPath, registration).
    */
  private def segNationMv(s: SparkSession, d: String)
      : (String, graft.plans.MvRewrite.Registration) = {
    import graft.plans.MvRewrite
    // versioned store + freshness token (round-12 verdict item #5: the
    // catalog's registrations were tokenless): the static testdata base
    // never moves, so the certified v0 stays the frontier — but the
    // rail is now structural, and a hypothetical maintenance publish
    // would un-route every holder of this registration at once. The
    // rowsHint (footer metadata) feeds the statistics-based choice.
    val store = stageOnce(s, "graft_mv_segnation", d) { st =>
      new graft.cdc.VersionedState(s, st).publish("mv", 0L,
        s.read.parquet(s"$d/customer.parquet")
          .groupBy(col("c_mktsegment"), col("c_nationkey"))
          .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("sv")))
    }
    val state = new graft.cdc.VersionedState(s, store)
    (store, MvRewrite.Registration(
      baseTag = "customer.parquet",
      groupCols = Seq("c_mktsegment", "c_nationkey"),
      aggSpecs = Seq(("count", None), ("sum", Some("c_custkey"))),
      mv = () => state.readAt("mv", 0L),
      freshness = Some(MvRewrite.Freshness(() => state.latestVersion, 0L)),
      rowsHint = Some(MvRewrite.parquetRowCount(s, s"$store/mv/v0"))))
  }

  /** MV SUBSUMPTION rewrite ([[graft.plans.MvRewrite]] cases 2+3): the
    * registered view is FINER than the query — grouped by (segment,
    * nation) — and the query filters on one group column and rolls up
    * to the other. The rule must push the filter onto the MV's group
    * columns (groups are filter-homogeneous) and RE-AGGREGATE the MV
    * over the subset (count folds as sum-of-counts, sum as
    * sum-of-sums), turning an O(base) scan into an O(groups) one. Same
    * loud witnesses as [[qCdcMvRewrite]]: oracle computed from BASE,
    * `require` that the optimized plan reads the MV.
    */
  def qCdcMvRollup(s: SparkSession, d: String): DataFrame = {
    import graft.plans.MvRewrite
    val (_, reg) = segNationMv(s, d)
    val rule = MvRewrite.install(s, reg)
    try routedToMv(s, s.read.parquet(s"$d/customer.parquet")
        .filter(col("c_nationkey") < 13)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("c_custkey")).as("key_sum"))
        .orderBy(col("c_mktsegment")),
      "graft_mv_segnation", "customer.parquet")
    finally MvRewrite.uninstall(s, rule)
  }

  /** MULTI-MV CATALOG routing — a warehouse holds MANY materializations
    * at once, and routing must pick the right one per query: a single
    * [[graft.plans.MvRewrite.RewriteRule]] now carries a catalog of
    * registrations (round-11 widening; install/uninstall stays one
    * atomic handle), and this gate registers TWO views over DIFFERENT
    * base tables — the finer (segment, nation) customer rollup and an
    * order-priority rollup over orders — then routes one query onto
    * EACH under the one live rule. Each routed plan must read ITS MV
    * and not its base (per-query `require`); the union of both answers
    * hash-checks against the two base closed forms, so a catalog that
    * cross-matched (customer query onto the orders MV — the false-match
    * class the per-registration baseTag/shape guards exist for) fails
    * loudly on both the witness and the hash.
    *
    * Scale shape: catalog matching is O(registrations) driver-side plan
    * work per aggregate node — nothing distributed — and each routed
    * read stays O(that view's groups).
    */
  def qCdcMvMulti(s: SparkSession, d: String): DataFrame = {
    import graft.plans.MvRewrite
    val (custBase, ordBase) = (s"$d/customer.parquet", s"$d/orders.parquet")
    // versioned + freshness-pinned like every catalog member (round-12
    // verdict item #5)
    val ordStore = stageOnce(s, "graft_mv_multi_ordmv", d) { st =>
      new graft.cdc.VersionedState(s, st).publish("mv", 0L,
        s.read.parquet(ordBase)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("sv")))
    }
    val ordState = new graft.cdc.VersionedState(s, ordStore)
    val (_, custReg) = segNationMv(s, d) // the shared customer view
    val rule = MvRewrite.install(s, Seq(
      custReg,
      MvRewrite.Registration(
        baseTag = "orders.parquet",
        groupCols = Seq("o_orderpriority"),
        aggSpecs = Seq(("count", None), ("sum", Some("o_custkey"))),
        mv = () => ordState.readAt("mv", 0L),
        freshness = Some(
          MvRewrite.Freshness(() => ordState.latestVersion, 0L)),
        rowsHint = Some(
          MvRewrite.parquetRowCount(s, s"$ordStore/mv/v0")))))
    try {
      val seg = routedToMv(s, s.read.parquet(custBase)
          .filter(col("c_nationkey") < 13)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_members"),
            sum(col("c_custkey")).as("key_sum")),
        "graft_mv_segnation", "customer.parquet")
      val pri = routedToMv(s, s.read.parquet(ordBase)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_members"),
            sum(col("o_custkey")).as("key_sum")),
        "ordmv", "orders.parquet")
      seg.select(lit("customer").as("src"), col("c_mktsegment").as("k"),
          col("n_members"), col("key_sum"))
        .unionByName(pri.select(lit("orders").as("src"),
          col("o_orderpriority").as("k"),
          col("n_members"), col("key_sum")))
        .orderBy(col("src"), col("k"))
    } finally MvRewrite.uninstall(s, rule)
  }

  /** The inverse plan witness: the optimized plan must read the BASE
    * and must NOT read any `mvTag` path — the stale-registration
    * fall-through's loud proof (a fall-through that silently kept
    * routing is exactly the staleness bug [[qCdcMvFresh]] exists to
    * kill).
    */
  private def fellBackToBase(s: SparkSession, q: DataFrame,
      baseTag: String, mvTag: String): DataFrame = {
    val opt = q.queryExecution.optimizedPlan
    val leaves = scannedRoots(opt)
    require(leaves.exists(_.contains(baseTag)) &&
      !leaves.exists(_.contains(mvTag)),
      s"stale registration did not fall back to the base: plan reads $leaves")
    org.apache.spark.sql.GraftSqlBridge.ofRows(s, opt)
  }

  /** The root paths of every file relation `opt` reads. */
  private def scannedRoots(
      opt: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[String] =
    opt.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources
              .HadoopFsRelation => h.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
    }.flatten

  /** MV FRESHNESS GUARD ([[graft.plans.MvRewrite.Freshness]], round-11
    * verdict item #3): a registration certified against one generation
    * of a maintained [[graft.cdc.VersionedState]] must STOP routing the
    * moment maintenance publishes a newer one — the alternative is an
    * installed-but-stale registration silently serving old answers,
    * the one failure mode the MV gates' uninstall-in-`finally`
    * discipline couldn't exercise.
    *
    * The gate runs the full lifecycle: certify a registration at
    * committed version 0 (its `mv` thunk reads exactly v0, its token pins
    * frontier = 0); apply a maintenance delta — the base parquet moves
    * to generation 2 AND the store publishes v1 — while the v0
    * registration stays installed; query the base. The STALE phase
    * must fall through (plan witness: base read, NO mv path) yet still
    * answer correctly from the base. Re-certify at v1 and the FRESH
    * phase must route (witness: mv read, no base) to the same answer.
    * Both phases hash against ONE post-delta closed form — a guard
    * that failed open would serve v0's pre-delta rollup in the stale
    * phase and mismatch.
    *
    * Scale shape: the freshness check is one driver-side directory
    * listing per match attempt; the stale phase costs the base scan
    * (the honest price of an outdated registration), the fresh phase
    * the O(groups) MV read.
    */
  def qCdcMvFresh(s: SparkSession, d: String): DataFrame = {
    import graft.plans.MvRewrite
    val base = graft.streaming.Drive.fresh(s,
      gateTmpDir("graft_mv_fresh", d))
    val (basePath, store) = (s"$base/mv_fresh_base", s"$base/store")
    val state = new graft.cdc.VersionedState(s, store)
    def members(withDelta: Boolean): DataFrame =
      s.read.parquet(s"$d/customer.parquet").select(
        lower(col("c_mktsegment")).as("g"),
        (col("c_custkey").cast("long") * 7L % 1000L +
          (if (withDelta)
            when(col("c_custkey") % 3 === 0, 500L).otherwise(0L)
          else lit(0L))).as("m"))
    def rollup(m: DataFrame): DataFrame = m.groupBy(col("g"))
      .agg(count(lit(1)).as("n_members"), sum(col("m")).as("total"))
    def regAt(v: Long) = MvRewrite.Registration(
      baseTag = "mv_fresh_base", groupCols = Seq("g"),
      aggSpecs = Seq(("count", None), ("sum", Some("m"))),
      mv = () => state.readAt("mv", v),
      freshness = Some(MvRewrite.Freshness(() => state.latestVersion, v)))
    // generation 1: certify at v0 (the pre-delta base and rollup)
    state.publish("mv", 0L, rollup(members(withDelta = false)))
    // maintenance applies a delta: the base moves to generation 2 and
    // the store publishes v1 — but the v0 registration stays installed
    members(withDelta = true).write.mode("overwrite").parquet(basePath)
    state.publish("mv", 1L, rollup(members(withDelta = true)))
    def aggOverBase: DataFrame = s.read.parquet(basePath)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_members"), sum(col("m")).as("total"))
    // STALE phase: token 0 vs live frontier 1 → must fall through to
    // the base (and therefore answer with post-delta values)
    val staleRule = MvRewrite.install(s, regAt(0L))
    val stale =
      try fellBackToBase(s, aggOverBase, "mv_fresh_base", "store/mv")
      finally MvRewrite.uninstall(s, staleRule)
    // FRESH phase: re-certified at v1 → must route onto the MV
    val freshRule = MvRewrite.install(s, regAt(1L))
    val fresh =
      try routedToMv(s, aggOverBase, "store/mv", "mv_fresh_base")
      finally MvRewrite.uninstall(s, freshRule)
    stale.withColumn("phase", lit("stale_fallback"))
      .unionByName(fresh.withColumn("phase", lit("fresh_routed")))
      .select(col("phase"), col("g"), col("n_members"), col("total"))
      .orderBy(col("phase"), col("g"))
  }

  /** FRESHNESS × CATALOG, composed (round-12 verdict item #5's gate): a
    * TWO-registration catalog where the STALE member must fall through
    * while the FRESH one routes — the mixed-staleness state a real
    * warehouse catalog lives in between maintenance cycles, and the
    * composition [[qCdcMvFresh]] (one registration) and
    * [[qCdcMvChoice]] (two fresh ones) each exercise only half of.
    *
    * The trap is armed: the stale member is the EXACT-grain segment
    * view — certified at v0, after which maintenance published v1
    * behind its back — and it is registered FIRST; if the per-match
    * freshness gate failed, the cost-based choice would score it 0
    * (exact beats any re-fold) and serve its PRE-delta v0 content. The
    * fresh member is the FINER (g, sub) view holding post-delta
    * content, answerable only by re-fold. The plan witness requires
    * the finer store read and NEITHER the base NOR the stale store;
    * the hash (post-delta closed form) kills a guard that failed open
    * twice over — wrong path AND wrong values.
    *
    * Scale shape: two directory listings per match attempt (one per
    * candidate's frontier) — driver-side metadata, noise next to the
    * O(base) scan the route saves; the routed read is the finer view's
    * O(groups × sub) re-fold.
    */
  def qCdcMvFreshMulti(s: SparkSession, d: String): DataFrame = {
    import graft.plans.MvRewrite
    val base = graft.streaming.Drive.fresh(s,
      gateTmpDir("graft_mv_fresh_multi", d))
    val (basePath, exactStore, fineStore) =
      (s"$base/fm_base", s"$base/fm_exact", s"$base/fm_fine")
    def members(withDelta: Boolean): DataFrame =
      s.read.parquet(s"$d/customer.parquet").select(
        lower(col("c_mktsegment")).as("g"),
        (col("c_custkey") % 4).cast("long").as("sub"),
        (col("c_custkey").cast("long") * 7L % 1000L +
          (if (withDelta)
            when(col("c_custkey") % 3 === 0, 500L).otherwise(0L)
          else lit(0L))).as("m"))
    // the post-delta base the query aggregates
    members(withDelta = true).write.mode("overwrite").parquet(basePath)
    // STALE exact-grain member: certified at v0 (pre-delta content),
    // then maintenance publishes v1 while the v0 registration stays
    val exact = new graft.cdc.VersionedState(s, exactStore)
    exact.publish("mv", 0L, members(withDelta = false).groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("m")).as("sv")))
    exact.publish("mv", 1L, members(withDelta = true).groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("m")).as("sv")))
    // FRESH finer member: post-delta (g, sub) rollup, frontier = v0
    val fine = new graft.cdc.VersionedState(s, fineStore)
    fine.publish("mv", 0L,
      members(withDelta = true).groupBy(col("g"), col("sub"))
        .agg(count(lit(1)).as("n"), sum(col("m")).as("sv")))
    val staleExactReg = MvRewrite.Registration(
      baseTag = "fm_base", groupCols = Seq("g"),
      aggSpecs = Seq(("count", None), ("sum", Some("m"))),
      mv = () => exact.readAt("mv", 0L),
      freshness = Some(MvRewrite.Freshness(() => exact.latestVersion, 0L)))
    val freshFineReg = MvRewrite.Registration(
      baseTag = "fm_base", groupCols = Seq("g", "sub"),
      aggSpecs = Seq(("count", None), ("sum", Some("m"))),
      mv = () => fine.readAt("mv", 0L),
      freshness = Some(MvRewrite.Freshness(() => fine.latestVersion, 0L)),
      rowsHint = Some(MvRewrite.parquetRowCount(s, s"$fineStore/mv/v0")))
    // stale member FIRST — it would also win the cost choice (exact
    // grain) if the freshness gate ever failed open
    val rule = MvRewrite.install(s, Seq(staleExactReg, freshFineReg))
    try routedToMv(s, s.read.parquet(basePath)
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n_members"), sum(col("m")).as("total"))
        .orderBy(col("g")),
      "fm_fine", "fm_base", "fm_exact")
    finally MvRewrite.uninstall(s, rule)
  }

  /** COST-BASED MV CHOICE ([[graft.plans.MvRewrite.RewriteRule]]'s
    * round-12 selection, verdict stretch item #8): when TWO
    * registrations subsume the same query — here the shared FINER
    * (segment, nation) rollup and an EXACT segment-grain view — the
    * rule must pick the cheaper one (exact grain: the MV row IS the
    * answer, no re-fold) regardless of registration order. The finer
    * view is registered FIRST, so the old first-match rule would have
    * routed onto it and re-aggregated; the witness requires the plan
    * to read the exact view and NEITHER the base NOR the finer MV, and
    * the hash (computed from the base) proves the choice preserved
    * semantics.
    *
    * Scale shape: choice is driver-side scoring over O(registrations)
    * matches; the routed read drops from O(segment × nation groups)
    * re-folded to O(segment groups) read directly — the gap widens
    * with every extra grain a warehouse materializes.
    */
  def qCdcMvChoice(s: SparkSession, d: String): DataFrame = {
    import graft.plans.MvRewrite
    val (_, fineReg) = segNationMv(s, d) // (segment, nation) grain
    val segMv = stageOnce(s, "graft_mv_choice", d) { st =>
      s.read.parquet(s"$d/customer.parquet")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("sv"))
        .write.parquet(st)
    }
    val segReg = MvRewrite.Registration(
      baseTag = "customer.parquet", groupCols = Seq("c_mktsegment"),
      aggSpecs = Seq(("count", None), ("sum", Some("c_custkey"))),
      mv = () => s.read.parquet(segMv))
    // the finer view FIRST: registration order must NOT decide
    val rule = MvRewrite.install(s, Seq(fineReg, segReg))
    try routedToMv(s, s.read.parquet(s"$d/customer.parquet")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("c_custkey")).as("key_sum"))
        .orderBy(col("c_mktsegment")),
      "graft_mv_choice", "customer.parquet", "graft_mv_segnation")
    finally MvRewrite.uninstall(s, rule)
  }

  /** HAVING over a ROUTED aggregate — the post-aggregation filter shape
    * every dashboard rollup carries ("segments with more than N
    * members"), proving [[graft.plans.MvRewrite]]'s rebinding contract
    * end to end: the rewrite replaces the Aggregate NODE while aliasing
    * every output back to the original name AND exprId, so a parent
    * Filter referencing the aggregate's outputs (which Catalyst cannot
    * push below the aggregate — the predicate reads agg results) binds
    * onto the routed plan unchanged. Composes all three subsumption
    * moves in one query: group-filter pushdown (`c_nationkey < 13` onto
    * the finer MV), rollup re-fold (segment×nation → segment), and the
    * HAVING above. The oracle computes from the BASE with a real SQL
    * HAVING; the `require` proves the plan read the MV — so a rewrite
    * that dropped, duplicated, or rebound-to-nothing the parent filter
    * hash-fails loudly.
    *
    * Scale shape: identical to [[qCdcMvRollup]] (O(groups) MV read +
    * re-fold) plus a metadata-sized post-filter. At 100 TB the HAVING
    * is exactly why consumers want routing — filtering a six-row answer
    * should never cost a fact-table scan.
    */
  def qCdcMvHaving(s: SparkSession, d: String): DataFrame = {
    import graft.plans.MvRewrite
    val (_, reg) = segNationMv(s, d)
    val rule = MvRewrite.install(s, reg)
    try routedToMv(s, s.read.parquet(s"$d/customer.parquet")
        .filter(col("c_nationkey") < 13)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("c_custkey")).as("key_sum"))
        .filter(col("n_members") > 150) // HAVING: reads the agg output
        .orderBy(col("c_mktsegment")),
      "graft_mv_segnation", "customer.parquet")
    finally MvRewrite.uninstall(s, rule)
  }

  /** MV SUBSUMPTION across the WIDENED aggregate algebra (round-9
    * verdict item #5): the registered view is finer — (segment,
    * nation) — carrying count/sum/min/max columns; the query filters
    * one group column and rolls up to the other computing `min`, `max`,
    * and `avg`. The rule must push the filter onto the MV, re-fold
    * min/max as idempotent semilattice ops over the refinement, and
    * answer `avg` from the sum/count DECOMPOSITION (`sum(sv)/sum(n)` in
    * double — exactly how Spark's own `Average` evaluates integral
    * input, so the value is bit-identical to the base computation; the
    * oracle spells the same decomposition). Same loud witnesses as
    * [[qCdcMvRewrite]]: oracle computed from BASE, `require` that the
    * optimized plan reads the MV.
    *
    * Scale shape: identical to [[qCdcMvRollup]] — O(groups) MV read +
    * re-fold instead of the O(base) scan; min/max/avg are the rest of
    * the self-maintainable-under-insertion algebra a warehouse rollup
    * actually serves.
    */
  def qCdcMvStats(s: SparkSession, d: String): DataFrame = {
    import graft.plans.MvRewrite
    val basePath = s"$d/customer.parquet"
    val mvPath = stageOnce(s, "graft_mv_stats", d) { st =>
      s.read.parquet(basePath)
        .groupBy(col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("sv"),
          min(col("c_custkey")).as("mn"), max(col("c_custkey")).as("mx"))
        .write.parquet(st)
    }
    val rule = MvRewrite.install(s, MvRewrite.Registration(
      baseTag = "customer.parquet",
      groupCols = Seq("c_mktsegment", "c_nationkey"),
      aggSpecs = Seq(("count", None), ("sum", Some("c_custkey")),
        ("min", Some("c_custkey")), ("max", Some("c_custkey"))),
      mv = () => s.read.parquet(mvPath)))
    try routedToMv(s, s.read.parquet(basePath)
        .filter(col("c_nationkey") < 13)
        .groupBy(col("c_mktsegment"))
        .agg(min(col("c_custkey")).as("min_key"),
          max(col("c_custkey")).as("max_key"),
          avg(col("c_custkey")).as("avg_key"))
        .orderBy(col("c_mktsegment")),
      "graft_mv_stats", "customer.parquet")
    finally MvRewrite.uninstall(s, rule)
  }

  /** JOIN-BEARING MV routing composed with FK-IVM maintenance — the
    * round-9 verdict named "no join-bearing MVs" as [[graft.plans
    * .MvRewrite]]'s remaining by-design gap; this gate closes it on the
    * warehouse's commonest materialization: the rollup over
    * `fact ⋈ dim ON fact.fk = dim.pk` that
    * [[graft.cdc.IncrementalFkAggView]] maintains. The view is
    * bootstrapped, maintained through the FK fixture's change
    * generation (fan-out retractions/insertions — dim group moves
    * rewrite every referencing fact's contribution), and registered
    * with a [[graft.plans.MvRewrite.JoinSpec]]; a query JOINING the
    * post-delta base parquets and aggregating is transparently routed
    * to the maintained state. Oracle: the FK batch gate's closed form
    * verbatim — routing must not change the maintained answer — plus
    * the loud `require` that the plan reads neither base.
    *
    * Scale shape: the routed query replaces a fact-scan + shuffle
    * join + aggregate with an O(groups) MV read; maintenance stays
    * O(|Δ| + fan-out + touched groups) per batch. This is the full
    * consumer-materialization loop for joined rollups at 100 TB.
    */
  def qCdcMvFkIvm(s: SparkSession, d: String): DataFrame = {
    import graft.cdc.{IncrementalFkAggView, IncrementalJoinView}
    import graft.plans.MvRewrite
    import graft.Materialize.Ops
    val base = gateTmpDir("graft_mv_fk_ivm", d)
    val (mvStore, factPath, dimPath) =
      (s"$base/fkmvstore", s"$base/fkfact", s"$base/fkdim")
    val (f1, f2, d1, d2) = fkAggFixture(s, d)
    val fS1 = IncrementalJoinView.sideState(f1, "order_id").stage()
    val dS1 = IncrementalJoinView.sideState(d1, "d_id").stage()
    val agg1 = IncrementalFkAggView
      .bootstrap(fS1, dS1, "order_id", "cust_id", "d_id", "g", "amount")
      .stage() // the maintained materialization the step merges into
    val (agg2raw, fS2, dS2) = IncrementalFkAggView.step(agg1, fS1, dS1,
      f2, d2, "order_id", "cust_id", "d_id", "g", "amount",
      "maintained_via")
    val agg2 = agg2raw.stage() // MV write + the marker join
    // publish the MAINTAINED rollup — versioned + freshness-pinned
    // (round-12 verdict item #5) — and the post-delta base tables.
    // Version 1 = one maintenance generation past the bootstrap.
    val mvState = new graft.cdc.VersionedState(s, mvStore)
    mvState.publish("mv", 1L,
      agg2.select(col("g"), col("n_members"), col("total")))
    fS2.select(col("order_id"), col("cust_id"), col("amount"))
      .write.mode("overwrite").parquet(factPath)
    dS2.select(col("d_id"), col("g"))
      .write.mode("overwrite").parquet(dimPath)
    val rule = MvRewrite.install(s, MvRewrite.Registration(
      baseTag = "fkfact", groupCols = Seq("g"),
      aggSpecs = Seq(("count", None), ("sum", Some("amount"))),
      mv = () => mvState.readAt("mv", 1L),
      join = Some(MvRewrite.JoinSpec("fkfact", "fkdim",
        "cust_id", "d_id")),
      freshness = Some(MvRewrite.Freshness(() => mvState.latestVersion, 1L))))
    val routed =
      try routedToMv(s,
        s.read.parquet(factPath)
          .join(s.read.parquet(dimPath), col("cust_id") === col("d_id"))
          .groupBy(col("g"))
          .agg(count(lit(1)).as("n_members"),
            sum(col("amount")).as("total_amount")),
        "fkmvstore", "fkfact", "fkdim")
      finally MvRewrite.uninstall(s, rule)
    routed.join(agg2.select(col("g"), col("maintained_via")), Seq("g"))
      .select(col("g"), col("n_members"), col("total_amount"),
        col("maintained_via"))
      .orderBy(col("g"))
  }

  /** One generation of the [[qCdcMvIvm]] fixture's change rules,
    * scoped to the id band [lo, hi): the [[aggViewFixture]] rule
    * shapes — group moves (%3), metric updates (%4), deletes on either
    * side (%7 a-side, %5 b-side) — so every IVM case (retraction,
    * insertion, group move, delete) runs in EVERY maintenance
    * generation. Bands are DISJOINT across generations, which is what
    * keeps the closed form SQL-expressible: the post-gen-2 state of a
    * band-2 key is its gen-1 state, so "apply the rules where
    * id < hi₂" is the exact final state.
    */
  private def mvIvmDeltas(cust: DataFrame, lo: Int, hi: Int)
      : (DataFrame, DataFrame) = {
    val lsn0 = col("id").cast("long")
    val bucket = expr("id div 100").cast("string")
    val inB = col("id") >= lo && col("id") < hi
    val a = cust.filter(inB && col("id") % 3 === 0)
      .select(col("id"), lit("u").as("op"), (lsn0 + 10000000L).as("lsn"),
        concat(lit("moved-"), bucket).as("g"))
      .unionByName(cust.filter(inB && col("id") % 7 === 0)
        .select(col("id"), lit("d").as("op"),
          (lsn0 + 20000000L).as("lsn"),
          lit(null).cast("string").as("g")))
    val b = cust.filter(inB && col("id") % 4 === 0)
      .select(col("id"), lit("u").as("op"), (lsn0 + 10000000L).as("lsn"),
        (col("id").cast("long") * 7L % 1000L + 500L).as("balance"))
      .unionByName(cust.filter(inB && col("id") % 5 === 0)
        .select(col("id"), lit("d").as("op"),
          (lsn0 + 20000000L).as("lsn"),
          lit(null).cast("long").as("balance")))
    (a, b)
  }

  /** IVM maintenance COMPOSED with MV routing, end to end (round-9
    * verdict item #1) — the reference's consumer-materialization shape
    * (`/root/reference/docs/architecture.md:49-66`) closed into one
    * loop: an aggregate view is BOOTSTRAPPED, maintained through TWO
    * change generations by [[graft.cdc.IncrementalAggView.step]] (never
    * re-aggregating the base), the MAINTAINED state is registered with
    * [[graft.plans.MvRewrite]], and a plain aggregate over the
    * post-delta base parquet is transparently ROUTED to it. The DuckDB
    * oracle computes from the post-delta base closed form, so the hash
    * proves the maintained-state content is exactly what the routed
    * query's base semantics demand; the in-gate `require` proves the
    * plan actually read the MV (a silent fall-through cannot pass).
    *
    * `maintained_via` witnesses WHICH generations maintained each
    * group: 'g2'/'g3'/'g2+g3' per the two steps' touched markers,
    * 'carried' for groups neither delta ever rewrote. Generations
    * touch DISJOINT id bands ([0,512) then [512,1024)), which makes
    * the markers well-defined as well as the closed form foldable: a
    * group in gen-2's touched set that spans band 2 always keeps its
    * untouched live band-2 members at gen 2 (gen 2 touches nothing
    * ≥512), so no gen-2-touched group can vanish from the maintained
    * view and reappear in gen 3 with its gen-2 witness lost — the only
    * shape under which a step-marker fold and the oracle's
    * touched-set fold could disagree.
    *
    * Scale shape: each maintenance step is O(|Δ| + touched groups);
    * the routed query reads O(groups) MV rows instead of scanning the
    * base — the full IVM payoff measured as one gate. At 100 TB this
    * is the difference between a consumer dashboard re-scanning the
    * fact table and reading a metadata-sized, always-fresh rollup.
    */
  def qCdcMvIvm(s: SparkSession, d: String): DataFrame = {
    import graft.cdc.{IncrementalAggView, IncrementalJoinView}
    import graft.plans.MvRewrite
    import graft.Materialize.Ops
    val base = gateTmpDir("graft_mv_ivm", d)
    val (mvStore, basePath) = (s"$base/ivm_mvstore", s"$base/ivm_base")
    val cust = Tables.customer(s, d).select(
      col("c_custkey").cast("int").as("id"),
      lower(col("c_mktsegment")).as("seg"))
      .stage() // snapshot build + four delta-rule scans
    val lsn0 = col("id").cast("long")
    val bucket = expr("id div 100").cast("string")
    val a1 = cust.select(col("id"), lit("r").as("op"), lsn0.as("lsn"),
      concat(col("seg"), lit("-"), bucket).as("g"))
    val b1 = cust.select(col("id"), lit("r").as("op"), lsn0.as("lsn"),
      (col("id").cast("long") * 7L % 1000L).as("balance"))
    val (a2, b2) = mvIvmDeltas(cust, 0, 512)
    val (a3, b3) = mvIvmDeltas(cust, 512, 1024)
    // generation 1: bootstrap the side states + the materialization
    val aS1 = IncrementalJoinView.sideState(a1, "id").stage()
    val bS1 = IncrementalJoinView.sideState(b1, "id").stage()
    val agg1 = IncrementalAggView.bootstrap(aS1, bS1, "id", "g", "balance")
    // generations 2 and 3: algebraic maintenance, O(|Δ|) each — the
    // materialization is never rebuilt from the base after bootstrap
    val (agg2raw, aS2raw, bS2raw) = IncrementalAggView.step(agg1,
      aS1, bS1, a2, b2, "id", "g", "balance", "via2")
    val agg2 = agg2raw.stage() // step-3 input + the gen-2 marker join
    val aS2 = aS2raw.stage() // step-3 touched probe + carry
    val bS2 = bS2raw.stage()
    val (agg3raw, aS3, bS3) = IncrementalAggView.step(
      agg2.select(col("g"), col("n_members"), col("total")),
      aS2, bS2, a3, b3, "id", "g", "balance", "via3")
    val agg3 = agg3raw.stage() // MV write + the marker join
    // publish the MAINTAINED materialization — VERSIONED, so the
    // registration can carry a freshness token (round-12 verdict item
    // #5: the routed IVM gates installed tokenless registrations whose
    // staleness was only conventionally prevented) — and the post-delta
    // base (the live joined state a consumer's base table would hold).
    // Version 2 = two maintenance generations past the bootstrap.
    val mvState = new graft.cdc.VersionedState(s, mvStore)
    mvState.publish("mv", 2L,
      agg3.select(col("g"), col("n_members"), col("total")))
    IncrementalAggView.contribs(aS3, bS3, "id", "g", "balance")
      .write.mode("overwrite").parquet(basePath)
    val markers = agg3.select(col("g"), col("via3"))
      .join(agg2.select(col("g"), col("via2")), Seq("g"), "left")
      .select(col("g"),
        when(col("via2") === "delta_applied" &&
          col("via3") === "delta_applied", lit("g2+g3"))
          .when(col("via2") === "delta_applied", lit("g2"))
          .when(col("via3") === "delta_applied", lit("g3"))
          .otherwise(lit("carried")).as("maintained_via"))
    val rule = MvRewrite.install(s, MvRewrite.Registration(
      baseTag = "ivm_base", groupCols = Seq("g"),
      aggSpecs = Seq(("count", None), ("sum", Some("m"))),
      mv = () => mvState.readAt("mv", 2L),
      freshness = Some(MvRewrite.Freshness(() => mvState.latestVersion, 2L))))
    val routed =
      try routedToMv(s,
        s.read.parquet(basePath).groupBy(col("g"))
          .agg(count(lit(1)).as("n_members"),
            sum(col("m")).as("total_balance")),
        "ivm_mvstore", "ivm_base")
      finally MvRewrite.uninstall(s, rule)
    routed.join(markers, Seq("g"))
      .select(col("g"), col("n_members"), col("total_balance"),
        col("maintained_via"))
      .orderBy(col("g"))
  }

  /** MIN/MAX IVM composed with MV routing — the non-self-maintainable
    * half of the aggregate algebra, closed into the same loop as
    * [[qCdcMvIvm]]: min/max cannot be maintained algebraically under
    * deletion (retracting the row holding a group's extremum leaves no
    * way to know the runner-up), so
    * [[graft.cdc.IncrementalStatsView.step]] keeps count/sum on the
    * O(|Δ|) algebraic path and re-aggregates ONLY the groups whose
    * boundary a retraction touched, witnessed per group: `recomputed`
    * (the fallback ran), `delta_applied` (algebra sufficed), `carried`.
    * The maintained (count, sum, min, max) state is then registered
    * with [[graft.plans.MvRewrite]] and a plain four-aggregate query
    * over the post-delta base parquet is transparently routed to it —
    * exercising the widened min/max routing algebra against a
    * materialization the INCREMENTAL path produced.
    *
    * The fixture's single change generation hits every maintenance
    * case: deletes (%5, %7 — many land on a group's extremum at any
    * sf, since every group's min and max rows are themselves touched
    * with probability ~1 across hundreds of groups), metric updates
    * (%4, +500 pushes past most group maxima), and group moves (%3 —
    * retraction from the old group, insertion into a fresh one). The
    * DuckDB oracle computes the view from the post-delta base closed
    * form and reproduces the threat test symbolically (pre-batch
    * extrema vs touched keys' old rows), so the hash pins BOTH the
    * maintained values and the recompute trigger's exact semantics;
    * the in-gate `require` proves the plan read the MV.
    *
    * Scale shape: the step is O(|Δ| + touched groups) plus a recompute
    * scoped to threatened groups (semi-join probe, broadcast-sized);
    * the routed query reads O(groups) MV rows. At 100 TB the fallback
    * is the only part that touches state beyond the delta, and it
    * touches exactly the threatened groups' rows — bucket the state by
    * group to prune it further (documented on the operator).
    */
  def qCdcMvMinmaxIvm(s: SparkSession, d: String): DataFrame = {
    import graft.cdc.{IncrementalJoinView, IncrementalStatsView}
    import graft.plans.MvRewrite
    import graft.Materialize.Ops
    val base = gateTmpDir("graft_mv_minmax_ivm", d)
    val (mvStore, basePath) =
      (s"$base/minmax_mvstore", s"$base/minmax_base")
    val cust = Tables.customer(s, d).select(
      col("c_custkey").cast("int").as("id"),
      lower(col("c_mktsegment")).as("seg"))
      .stage() // snapshot build + delta-rule scans
    val lsn0 = col("id").cast("long")
    val bucket = expr("id div 100").cast("string")
    val snap = cust.select(col("id"), lit("r").as("op"), lsn0.as("lsn"),
      concat(col("seg"), lit("-"), bucket).as("g"),
      (col("id").cast("long") * 7L % 1000L).as("balance"))
    val inB = col("id") < 1024
    val delta = cust
      .filter(inB && (col("id") % 3 === 0 || col("id") % 4 === 0 ||
        col("id") % 5 === 0 || col("id") % 7 === 0))
      .select(col("id"),
        when(col("id") % 7 === 0 || col("id") % 5 === 0, lit("d"))
          .otherwise(lit("u")).as("op"),
        (lsn0 + 10000000L).as("lsn"),
        when(col("id") % 3 === 0, concat(lit("moved-"), bucket))
          .otherwise(concat(col("seg"), lit("-"), bucket)).as("g"),
        (col("id").cast("long") * 7L % 1000L +
          when(col("id") % 4 === 0, 500L).otherwise(0L)).as("balance"))
    val st1 = IncrementalJoinView.sideState(snap, "id").stage()
    val agg1 = IncrementalStatsView.bootstrap(st1, "g", "balance")
    val (agg2raw, st2) = IncrementalStatsView.step(agg1, st1, delta,
      "id", "g", "balance", "via")
    val agg2 = agg2raw.stage() // MV write + the marker join
    // versioned + freshness-pinned (round-12 verdict item #5); version
    // 1 = one maintenance generation past the bootstrap
    val mvState = new graft.cdc.VersionedState(s, mvStore)
    mvState.publish("mv", 1L,
      agg2.select(col("g"), col("n_members"), col("total"),
        col("mn"), col("mx")))
    st2.select(col("g"), col("balance").as("m"))
      .write.mode("overwrite").parquet(basePath)
    val rule = MvRewrite.install(s, MvRewrite.Registration(
      baseTag = "minmax_base", groupCols = Seq("g"),
      aggSpecs = Seq(("count", None), ("sum", Some("m")),
        ("min", Some("m")), ("max", Some("m"))),
      mv = () => mvState.readAt("mv", 1L),
      freshness = Some(MvRewrite.Freshness(() => mvState.latestVersion, 1L))))
    val routed =
      try routedToMv(s,
        s.read.parquet(basePath).groupBy(col("g"))
          .agg(count(lit(1)).as("n_members"),
            sum(col("m")).as("total_balance"),
            min(col("m")).as("min_balance"),
            max(col("m")).as("max_balance")),
        "minmax_mvstore", "minmax_base")
      finally MvRewrite.uninstall(s, rule)
    routed.join(agg2.select(col("g"), col("via").as("maintained_via")),
        Seq("g"))
      .select(col("g"), col("n_members"), col("total_balance"),
        col("min_balance"), col("max_balance"), col("maintained_via"))
      .orderBy(col("g"))
  }

  /** Chunk width for [[qCdcTableChecksum]] — the resumability/memory
    * unit, exactly the production tool's knob (pt-table-checksum's
    * `--chunk-size`).
    */
  private val ChecksumChunk = 100

  /** One side's chunked digest: (chunk, row count, BIT_XOR of the
    * canonical row hash) over an (id, name, email, lsn) frame.
    * Package-visible so the spec can prove single-row sensitivity.
    */
  private[queries] def checksumFold(df: DataFrame): DataFrame =
    df.select(expr(s"id div $ChecksumChunk").cast("int").as("chunk"),
        graft.text.TextOps.hash56(concat_ws("|",
          col("id"), col("name"), col("email"), col("lsn"))).as("h"))
      .groupBy(col("chunk"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x"))

  /** Replica-verification checksum — the pt-table-checksum /
    * Debezium-incremental-snapshot-verification operator every CDC
    * deployment eventually runs: prove the CDC-derived materialization
    * equals the source's expected state WITHOUT shipping rows across
    * for comparison. Per id-chunk, each side folds to a row count plus
    * an order-independent BIT_XOR over a canonical row hash (the real
    * tool's `BIT_XOR(CRC32(...))` design); the gate emits both sides'
    * checksums and the per-chunk verdict. The replica side runs the
    * REAL pipeline — change mix → JSON envelope round trip → parse →
    * latest-state key window — so one corrupted field, lost delete, or
    * duplicated row anywhere in that path flips a chunk's verdict (the
    * oracle pins `matches=true` from the closed form).
    *
    * Scale shape: each side is one narrow hash pass + a
    * map-side-combined count/XOR per chunk; only the O(chunks) verdict
    * frames join. XOR is order- and partition-independent, so the
    * checksum is stable under AQE re-planning — the property that makes
    * it a CLUSTER-safe table digest where any float or concat-ordered
    * fold is not.
    */
  def qCdcTableChecksum(s: SparkSession, d: String): DataFrame = {
    val replica = checksumFold(
      CdcMaterialize.latestState(changeMix(s, d), keyField = "id")
        .select(col("id"), col("name"), col("email"),
          col("last_lsn").as("lsn")))
    val source = checksumFold(Tables.customer(s, d)
      .filter(col("c_custkey") % 7 =!= 0)
      .select(
        col("c_custkey").cast("int").as("id"),
        when(col("c_custkey") % 3 === 0, upper(col("c_name")))
          .otherwise(col("c_name")).as("name"),
        concat(
          regexp_replace(lower(col("c_name")), "[^a-z0-9]+", "."),
          lit("@"), lower(col("c_mktsegment")), lit(".example.com"))
          .as("email"),
        when(col("c_custkey") % 3 === 0, col("c_custkey") + 10000000L)
          .otherwise(col("c_custkey")).cast("long").as("lsn")))
    source
      .select(col("chunk"), col("n").as("n_src"), col("x").as("xor_src"))
      .join(replica.select(col("chunk"), col("n").as("n_replica"),
        col("x").as("xor_replica")), Seq("chunk"), "full_outer")
      .select(col("chunk"),
        coalesce(col("n_src"), lit(0L)).as("n_src"),
        col("xor_src"),
        coalesce(col("n_replica"), lit(0L)).as("n_replica"),
        col("xor_replica"),
        coalesce(col("n_src") === col("n_replica") &&
          col("xor_src") === col("xor_replica"), lit(false)).as("matches"))
      .orderBy(col("chunk"))
  }

  /** Log compaction inside the hash gate: the change mix lands as a
    * JSON-lines log, [[graft.cdc.CdcLogCompaction]] rewrites it to its
    * per-key frontier (max-lsn wins, tombstoned keys drop out,
    * survivors byte-faithful), and the COMPACTED directory is read back
    * through `format("graft-cdc")` and folded per op against the
    * closed-form mod rules. A compactor that kept a superseded version,
    * dropped a live key, retained a tombstone, or corrupted a surviving
    * line mismatches the oracle. (Byte-level faithfulness and the
    * corrupt-line passthrough have their own spec —
    * `CdcLogCompactionSpec` — this gate proves the frontier algebra on
    * real volume.)
    *
    * Scale shape: one hash shuffle on the key for the frontier window —
    * the irreducible cost of per-key latest — then a narrow rewrite;
    * the readback is the same per-file-parallel scan as
    * [[qCdcDsv2Scan]].
    */
  def qCdcLogCompaction(s: SparkSession, d: String): DataFrame = {
    val base = graft.streaming.Drive.fresh(s, gateTmpDir("graft_compact", d))
    val (inDir, outDir) = (s"$base/in", s"$base/out")
    changeMixRaw(s, d).write.mode("overwrite").text(inDir)
    CdcLogCompaction.compact(s, inDir, outDir)
    s.read.format("graft-cdc").load(outDir)
      .groupBy(col("op"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("after.id")).as("sum_ids"),
        max(col("source.lsn")).as("max_lsn"))
      .orderBy(col("op"))
  }

  /** Transaction-boundary-consistent materialization — the consumer-side
    * guarantee Debezium's transaction metadata topic exists for
    * (`source.txId` in every envelope + per-transaction END events
    * carrying the event count): a reader that must never observe a TORN
    * transaction applies a change only once its whole transaction is
    * known complete. The fixture commits the update generation in
    * transactions of ≤10 rows (`txId = id div 30 + 1`) and models the
    * two real-world incompleteness modes: transactions whose END event
    * hasn't arrived (`txId % 5 = 0` — still in flight, all data events
    * present but unappliable) and transactions with a torn tail (member
    * events for keys ≡ 0 mod 33 not yet in the log). The consumer sees
    * only envelopes + metadata — it counts observed events per `txId`,
    * joins against the expected counts, applies exactly the complete
    * transactions on top of the snapshot, and folds the resulting state
    * per key-bucket. The oracle re-derives the applied set closed-form
    * from the mod rules, so a consumer that applied a torn or
    * in-flight transaction (or dropped a complete one) hash-mismatches.
    *
    * Scale shape: the completeness check is one map-side-combined count
    * per txId (txIds are dense and tiny relative to events) + one
    * equi-semi-join of events on txId; state reduction is the same
    * single key-shuffle argmax as latest-state (map-side combined, no
    * sort). Nothing is broadcast that grows with the corpus; nothing
    * touches the driver.
    */
  def qCdcTxnConsistent(s: SparkSession, d: String): DataFrame = {
    val cust = customerNames(s, d)
    val updFull = cust.filter(col("id") % 3 === 0)
      .withColumn("name", upper(col("name")))
    val txOf = expr("id div 30") + 1L
    // the transaction topic: END events (txId, event_count) for every
    // COMMITTED transaction whose END has already been captured
    val meta = updFull.select(txOf.as("tx"))
      .groupBy(col("tx")).agg(count(lit(1)).as("n_expected"))
      .filter(col("tx") % 5 =!= 0)
    // the data stream: snapshots + the update events that have arrived
    // (keys ≡ 0 mod 33 are still in the capture pipe)
    val snapRaw = CdcSource.changes(cust, "r", "inventory", "public",
      "customers", col("id").cast("long"), fixedTsMs = Some(FixedTs))
    val updRaw = CdcSource.changes(
      updFull.filter(col("id") % 33 =!= 0), "u", "inventory", "public",
      "customers", col("id") + 10000000L, fixedTsMs = Some(FixedTs),
      txId = Some(txOf))
    // ---- consumer side: envelopes + metadata only from here on ----
    val parsed = CdcEnvelope.parse(snapRaw.unionByName(updRaw)).select(
      col("envelope.after.id").as("id"),
      col("envelope.after.name").as("name"),
      col("envelope.op").as("op"),
      col("envelope.source.lsn").as("lsn"),
      col("envelope.source.txId").as("tx"))
    val updates = parsed.filter(col("op") === "u")
    val applied = updates.groupBy(col("tx"))
      .agg(count(lit(1)).as("n_seen"))
      .join(meta, "tx")
      .filter(col("n_seen") === col("n_expected"))
      .select(col("tx"))
    val state = parsed.filter(col("op") === "r")
      .unionByName(updates.join(applied, Seq("tx"), "left_semi"))
      .select(col("id"), col("name"), col("lsn"))
    // per-key latest (lsns are distinct per key: snapshot id vs update
    // id+10M, so name never decides)
    RankOne(state, Seq("id"), col("lsn").desc, col("name").desc)
      .groupBy((col("id") % 10).cast("int").as("bucket"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("name") === upper(col("name")), 1L).otherwise(0L))
          .as("n_updated"),
        sum(col("id")).cast("long").as("sum_ids"),
        max(col("lsn")).as("max_lsn"))
      .orderBy(col("bucket"))
  }

  /** The STREAMING transaction release inside the hash gate (the batch
    * completeness check is [[qCdcTxnConsistent]]'s): the same
    * transactional update fixture is delivered as TWO micro-batch
    * generations with a full checkpoint restart between them — even
    * transactions' events + ALL END metadata first, odd transactions'
    * events (plus at-least-once replays of already-released events as
    * fresh files) after the restart. [[graft.streaming.TxnConsistentStream]]
    * buffers per-txId state across the restart and the gate folds the
    * RELEASED events against the closed-form applied set. What the hash
    * proves: releases are exactly the complete transactions (torn and
    * END-less ones stay buffered forever), replays after release emit
    * nothing (a duplicate would inflate `n_released`), and buffered
    * state survives the checkpoint restart (a lost buffer would drop
    * the odd transactions' releases).
    *
    * Scale shape: one hash exchange on txId into the state store per
    * micro-batch — the minimum any transaction assembly pays; state is
    * O(open transactions). The fold is a tiny per-bucket aggregate.
    * Fixture inputs are built once per JVM ([[stageOnce]]) so repeated
    * suite runs measure the streaming release, not envelope
    * regeneration.
    */
  def qCdcTxnStream(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.Drive
    val base = Drive.fresh(s, gateTmpDir("graft_txn_stream", d))
    val (evDir, mtDir, outDir, ck) =
      (s"$base/ev", s"$base/mt", s"$base/out", s"$base/ck")
    val staged = stageOnce(s, "graft_txn_stream_staged", d) { st =>
      val (ev, meta) = txnFixture(s, d)
      ev.filter(col("tx") % 2 === 0).write.parquet(s"$st/gen1_ev")
      meta.write.parquet(s"$st/gen1_mt")
      ev.filter(col("tx") % 2 =!= 0).write.parquet(s"$st/gen2_ev")
      ev.filter(col("tx") % 2 === 0 && col("lsn") % 4 === 0)
        .write.parquet(s"$st/gen2_replay")
      ev.unpersist(blocking = true) // frees the Materialize.stage cache
    }
    // generation 1: even transactions' events + every END record;
    // generation 2 lands while the stream is DOWN: odd transactions'
    // events, plus a replay of some generation-1 events as NEW files
    // (at-least-once transport) — released state must suppress them
    Drive.generations(s, Seq(
        Seq(Drive.Land(s"$staged/gen1_ev", evDir, "g1"),
          Drive.Land(s"$staged/gen1_mt", mtDir, "g1")),
        Seq(Drive.Land(s"$staged/gen2_ev", evDir, "g2"),
          Drive.Land(s"$staged/gen2_replay", evDir, "g2r")))) { () =>
      import s.implicits._
      val events = s.readStream.schema("tx LONG, lsn LONG, value STRING")
        .parquet(evDir).as[graft.streaming.TxnEvent]
      val ends = s.readStream.schema("tx LONG, expected INT")
        .parquet(mtDir).as[graft.streaming.TxnMeta]
      Drive.await(graft.streaming.TxnConsistentStream.release(events, ends)
        .writeStream.format("parquet").option("path", outDir)
        .outputMode(OutputMode.Append), ck)
    }
    s.read.parquet(outDir)
      .select(get_json_object(col("value"), "$.after.id")
        .cast("int").as("id"), col("lsn"))
      .groupBy((col("id") % 10).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_released"),
        sum(col("id")).cast("long").as("sum_ids"),
        max(col("lsn")).as("max_lsn"))
      .orderBy(col("bucket"))
  }

  /** The ABANDONED-TRANSACTION horizon inside the hash gate (round-6
    * hardening of [[qCdcTxnStream]]'s operator): same transactional
    * fixture, but run through [[graft.streaming.TxnConsistentStream
    * .releaseOrEvict]] — the event-time-timeout mode. Generation 1
    * delivers every arriving event and every END record at one fixed
    * event time; generation 2 (after a full checkpoint restart) is a
    * single far-future advancer event that drags the watermark past
    * every open transaction's horizon. The gate folds BOTH output
    * channels: complete transactions must have released (`dead=false`)
    * and every torn (member never arrives: id%33=0) or END-less
    * (tx%5=0) transaction must have dead-lettered its buffered events
    * (`dead=true`) — exactly once, whole, with payload integrity
    * re-checked by extracting ids from the released/evicted envelope
    * bytes. A duplicate release, a lost buffer across the restart, a
    * silent drop of torn input, or an eviction that fired early (the
    * advancer's own never-ending transaction must NOT appear) all
    * break the hash.
    *
    * Scale shape: identical to [[qCdcTxnStream]] plus O(1) timer state
    * per open transaction; eviction is the mechanism that makes state
    * O(transactions open within one horizon) instead of O(stream
    * history) — the 100-TB posture the NoTimeout mode lacks.
    */
  def qCdcTxnEvict(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.Drive
    val base = Drive.fresh(s, gateTmpDir("graft_txn_evict", d))
    val (evDir, mtDir, outDir, ck) =
      (s"$base/ev", s"$base/mt", s"$base/out", s"$base/ck")
    val staged = stageOnce(s, "graft_txn_evict_staged", d) { st =>
      val (ev, meta) = txnFixture(s, d)
      ev.write.parquet(s"$st/gen1_ev")
      meta.write.parquet(s"$st/gen1_mt")
      ev.unpersist(blocking = true) // frees the Materialize.stage cache
      import s.implicits._
      Seq(graft.streaming.TxnEventTs(-1L, 0L, "",
        new java.sql.Timestamp(FixedTs + 86400000L))).toDS()
        .write.parquet(s"$st/gen2_adv")
    }
    // generation 1: every arriving event + every END, all at FixedTs —
    // complete transactions release here; torn/END-less ones buffer.
    // Generation 2 after restart: one advancer event a day ahead; the
    // watermark passes every horizon and the no-data batch evicts (the
    // timeout scans run per state store — see graft.streaming.Drive on
    // the state-sized partition count). The advancer's own transaction
    // (tx = -1) stays open — it must not leak into the output.
    Drive.generations(s, Seq(
        Seq(Drive.Land(s"$staged/gen1_ev", evDir, "g1"),
          Drive.Land(s"$staged/gen1_mt", mtDir, "g1")),
        Seq(Drive.Land(s"$staged/gen2_adv", evDir, "g2")))) { () =>
      import s.implicits._
      val events = s.readStream
        .schema("tx LONG, lsn LONG, value STRING, ts TIMESTAMP")
        .parquet(evDir).as[graft.streaming.TxnEventTs]
      val ends = s.readStream
        .schema("tx LONG, expected INT, ts TIMESTAMP")
        .parquet(mtDir).as[graft.streaming.TxnMetaTs]
      Drive.await(graft.streaming.TxnConsistentStream
        .releaseOrEvict(events, ends, "10 seconds", 60000L)
        .writeStream.format("parquet").option("path", outDir)
        .outputMode(OutputMode.Append), ck)
    }
    s.read.parquet(outDir)
      .select(get_json_object(col("value"), "$.after.id")
        .cast("int").as("id"), col("lsn"), col("dead"))
      .groupBy((col("id") % 10).cast("int").as("bucket"))
      .agg(
        sum(when(col("dead"), 0L).otherwise(1L)).as("n_released"),
        sum(when(col("dead"), 1L).otherwise(0L)).as("n_dead"),
        sum(when(col("dead"), 0L).otherwise(col("id")))
          .cast("long").as("sum_rel_ids"),
        sum(when(col("dead"), col("id")).otherwise(0L))
          .cast("long").as("sum_dead_ids"),
        max(col("lsn")).as("max_lsn"))
      .orderBy(col("bucket"))
  }

  /** Multi-table capture under ONE stream — the reference's
    * one-topic-per-table layout (`docs/setup-guide.md:33-35`) as a gate
    * query: a mixed envelope stream (customers snapshots + orders inserts
    * + corrupt records) runs through the REAL pipeline routing
    * ([[graft.cdc.CdcPipeline.routedValues]] — parse → enrich → per-table
    * routing column, the same expression the partitionBy sink fans out
    * on), then aggregates per routed table. `sum_ids` re-extracts the key
    * from the routed OUTPUT JSON, so payload integrity through the
    * enrich/serialize round-trip is inside the hash gate; corrupt records
    * must land in `_unrouted` with byte-passthrough (null ids).
    *
    * Scale shape: narrow parse/enrich/route per record, one tiny
    * aggregate — identical to the streaming fan-out's per-batch plan.
    */
  def qCdcMultiTable(s: SparkSession, d: String): DataFrame = {
    val cust = customerNames(s, d)
    // deterministic ¼ subset: the gate checks routing + payload
    // integrity, not volume (q_cdc_enrich already runs the full-table
    // envelope round-trip); each record pays the enrich pass plus a
    // get_json_object re-extraction, so the subset keeps the bench
    // honest about per-record cost without making this the suite's
    // slowest query
    val ords = Tables.orders(s, d)
      .filter(col("o_orderkey") % 4 === 1)
      .select(
        col("o_orderkey").cast("int").as("id"),
        col("o_orderstatus").as("status"))
    val custEnv = CdcSource.changes(cust, "r", "inventory", "public",
      "customers", col("id").cast("long"), fixedTsMs = Some(FixedTs))
    val ordEnv = CdcSource.changes(ords, "c", "inventory", "public",
      "orders", col("id") + 50000000L, fixedTsMs = Some(FixedTs))
    val bad = s.range(7).select(
      concat(lit("corrupt{{"), col("id").cast("string")).as("value"))
    graft.cdc.CdcPipeline.routedValues(
      custEnv.unionByName(ordEnv).unionByName(bad),
      EnrichConfig(processingTimeIso = Some("2026-01-01T00:00:00")))
      .groupBy(col("source_table"))
      .agg(count(lit(1)).as("n_records"),
        sum(get_json_object(col("value"), "$.original.after.id")
          .cast("long")).as("sum_ids"))
      .orderBy(col("source_table"))
  }

  // closed-form from the change-mix mod rules: snapshots carry after
  // (lsn=id), updates carry after (lsn=id+10M), deletes carry before
  // (lsn=id+20M). ONE definition for both the batch scan and the staged
  // tail — the tail's final log holds exactly the same change mix, so a
  // replayed or lost generation mismatches this same closed form.
  private val dsv2PerOpOracle =
    """SELECT * FROM (
      |  SELECT 'd' AS op, CAST(count(*) AS BIGINT) AS n,
      |    CAST(NULL AS BIGINT) AS sum_after_ids,
      |    CAST(sum(c_custkey) AS BIGINT) AS sum_before_ids,
      |    CAST(max(c_custkey) + 20000000 AS BIGINT) AS max_lsn
      |  FROM customer WHERE c_custkey % 7 = 0
      |  UNION ALL
      |  SELECT 'r', CAST(count(*) AS BIGINT),
      |    CAST(sum(c_custkey) AS BIGINT), CAST(NULL AS BIGINT),
      |    CAST(max(c_custkey) AS BIGINT)
      |  FROM customer
      |  UNION ALL
      |  SELECT 'u', CAST(count(*) AS BIGINT),
      |    CAST(sum(c_custkey) AS BIGINT), CAST(NULL AS BIGINT),
      |    CAST(max(c_custkey) + 10000000 AS BIGINT)
      |  FROM customer WHERE c_custkey % 3 = 0)
      |ORDER BY op""".stripMargin

  /** Shared closed form for [[qCdcAggView]] and [[qCdcStreamIvm]] —
    * the batch step and its streaming drive fold the same fixture.
    */
  private lazy val aggViewOracle: String =
    s"""WITH c AS (SELECT CAST(c_custkey AS INT) AS id,
       |    lower(c_mktsegment) AS seg FROM customer),
       |f AS (SELECT id, seg,
       |    CASE WHEN id < $AggViewHorizon AND id % 3 = 0
       |         THEN 'moved-' || CAST(id // 100 AS VARCHAR)
       |         ELSE seg || '-' || CAST(id // 100 AS VARCHAR) END AS g,
       |    CAST(id * 7 % 1000
       |      + CASE WHEN id < $AggViewHorizon AND id % 4 = 0
       |             THEN 500 ELSE 0 END AS BIGINT) AS bal
       |  FROM c
       |  WHERE NOT (id < $AggViewHorizon
       |             AND (id % 7 = 0 OR id % 5 = 0))),
       |v AS (SELECT g, CAST(count(*) AS BIGINT) AS n_members,
       |    CAST(sum(bal) AS BIGINT) AS total_balance FROM f GROUP BY 1),
       |tg AS (SELECT DISTINCT g FROM (
       |    SELECT seg || '-' || CAST(id // 100 AS VARCHAR) AS g
       |    FROM c WHERE id < $AggViewHorizon
       |      AND (id % 3 = 0 OR id % 4 = 0 OR id % 5 = 0 OR id % 7 = 0)
       |    UNION ALL
       |    SELECT g FROM f WHERE id < $AggViewHorizon
       |      AND (id % 3 = 0 OR id % 4 = 0 OR id % 5 = 0 OR id % 7 = 0)))
       |SELECT v.g AS g, v.n_members, v.total_balance,
       |  CASE WHEN tg.g IS NOT NULL THEN 'delta_applied'
       |       ELSE 'carried' END AS maintained_via
       |FROM v LEFT JOIN tg ON v.g = tg.g ORDER BY v.g""".stripMargin

  /** Shared closed form for [[qCdcFkAggView]] and [[qCdcFkStreamIvm]] —
    * the FK batch step and its streaming drive fold the same fixture:
    * the final rollup over surviving facts' post-gen-2 fks/amounts
    * joined to surviving dims' post-gen-2 groups; a group is
    * 'delta_applied' iff it appears in the touched facts' OLD (pre-batch
    * fk → pre-batch group) or NEW (post-batch fk → post-batch group,
    * survivors only) contribution sets — exactly the
    * retraction∪insertion frontier the merge rewrites. Touched facts =
    * own deltas ∪ dim fan-out, all inside the horizon.
    */
  private lazy val fkAggViewOracle: String =
    s"""WITH f AS (
       |  SELECT o_orderkey AS oid, CAST(o_custkey AS INT) AS fk_old,
       |    CASE WHEN o_orderkey % 9 = 0 AND o_custkey < $FkAggHorizon
       |         THEN CAST(o_orderkey % 100 + 1 AS INT)
       |         ELSE CAST(o_custkey AS INT) END AS fk_new,
       |    CAST(o_orderkey * 3 % 1000
       |      + CASE WHEN o_orderkey % 9 = 0 AND o_custkey < $FkAggHorizon
       |             THEN 5000 ELSE 0 END AS BIGINT) AS amount
       |  FROM orders
       |  WHERE NOT (o_orderkey % 11 = 0 AND o_custkey < $FkAggHorizon)),
       |d AS (
       |  SELECT CAST(c_custkey AS INT) AS d_id,
       |    lower(c_mktsegment) || '-' || CAST(c_custkey // 100 AS VARCHAR)
       |      AS g_pre,
       |    CASE WHEN c_custkey % 10 = 0 AND c_custkey < $FkAggHorizon
       |         THEN 'vip-' || CAST(c_custkey // 100 AS VARCHAR)
       |         ELSE lower(c_mktsegment) || '-'
       |           || CAST(c_custkey // 100 AS VARCHAR) END AS g_post,
       |    NOT (c_custkey % 13 = 0 AND c_custkey < $FkAggHorizon)
       |      AS alive
       |  FROM customer),
       |v AS (SELECT d.g_post AS g, CAST(count(*) AS BIGINT) AS n_members,
       |    CAST(sum(f.amount) AS BIGINT) AS total_amount
       |  FROM f JOIN d ON f.fk_new = d.d_id AND d.alive GROUP BY 1),
       |tf AS (
       |  SELECT o_orderkey AS oid, CAST(o_custkey AS INT) AS fk_old,
       |    CASE WHEN o_orderkey % 9 = 0 AND o_custkey < $FkAggHorizon
       |         THEN CAST(o_orderkey % 100 + 1 AS INT)
       |         ELSE CAST(o_custkey AS INT) END AS fk_new,
       |    (o_orderkey % 11 = 0 AND o_custkey < $FkAggHorizon) AS deleted
       |  FROM orders
       |  WHERE ((o_orderkey % 9 = 0 OR o_orderkey % 11 = 0)
       |         AND o_custkey < $FkAggHorizon)
       |     OR ((o_custkey % 10 = 0 OR o_custkey % 13 = 0)
       |         AND o_custkey < $FkAggHorizon)),
       |tg AS (SELECT DISTINCT g FROM (
       |    SELECT d.g_pre AS g FROM tf JOIN d ON tf.fk_old = d.d_id
       |    UNION ALL
       |    SELECT d.g_post FROM tf
       |    JOIN d ON tf.fk_new = d.d_id AND d.alive
       |    WHERE NOT tf.deleted))
       |SELECT v.g, v.n_members, v.total_amount,
       |  CASE WHEN tg.g IS NOT NULL THEN 'delta_applied'
       |       ELSE 'carried' END AS maintained_via
       |FROM v LEFT JOIN tg ON v.g = tg.g
       |ORDER BY v.g""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_cdc_dsv2_scan" -> dsv2PerOpOracle,
    "q_cdc_dsv2_tail" -> dsv2PerOpOracle,
    // closed-form: pre-drift snapshots (lsn=id, no loyalty_tier key →
    // NULL typed view, field_count 3); post-drift updates for even keys
    // (lsn=id+10M, loyalty_tier='T'||id%4, field_count 4)
    "q_cdc_schema_drift" ->
      """SELECT * FROM (
        |  SELECT CAST(c_custkey AS INT) AS id, 'r' AS op,
        |    CAST(c_custkey AS BIGINT) AS lsn,
        |    CAST(NULL AS VARCHAR) AS loyalty_tier,
        |    false AS has_tier, 3 AS field_count
        |  FROM customer
        |  UNION ALL
        |  SELECT CAST(c_custkey AS INT), 'u',
        |    CAST(c_custkey + 10000000 AS BIGINT),
        |    'T' || CAST(c_custkey % 4 AS VARCHAR), true, 4
        |  FROM customer WHERE c_custkey % 2 = 0)
        |ORDER BY id, lsn""".stripMargin,
    "q_cdc_multi_table" ->
      """SELECT * FROM (
        |  SELECT 'customers' AS source_table,
        |    CAST(count(*) AS BIGINT) AS n_records,
        |    CAST(sum(c_custkey) AS BIGINT) AS sum_ids
        |  FROM customer
        |  UNION ALL
        |  SELECT 'orders', CAST(count(*) AS BIGINT),
        |    CAST(sum(o_orderkey) AS BIGINT)
        |  FROM orders WHERE o_orderkey % 4 = 1
        |  UNION ALL
        |  SELECT '_unrouted', CAST(7 AS BIGINT), CAST(NULL AS BIGINT))
        |ORDER BY source_table""".stripMargin,
    // closed-form fold of both fixture lifecycles: survivors are keys
    // deleted on NEITHER side (id%7≠0 ∧ id%5≠0); name/balance reflect
    // the generation-2 updates; maintained_via = 'refreshed' exactly
    // where generation 2 touched a surviving key (id%3=0 ∨ id%4=0)
    "q_cdc_join_view" ->
      """SELECT CAST(c_custkey AS INT) AS id,
        |  CASE WHEN c_custkey % 3 = 0 THEN upper(c_name)
        |       ELSE c_name END AS name,
        |  CAST(c_custkey * 7 % 1000
        |    + CASE WHEN c_custkey % 4 = 0 THEN 500 ELSE 0 END
        |    AS BIGINT) AS balance,
        |  CASE WHEN c_custkey % 3 = 0 OR c_custkey % 4 = 0
        |       THEN 'refreshed' ELSE 'carried' END AS maintained_via
        |FROM customer
        |WHERE c_custkey % 7 <> 0 AND c_custkey % 5 <> 0
        |ORDER BY id""".stripMargin,

    // same closed form as q_cdc_join_view plus the drift column: tier
    // is 'gold' exactly where the gen-2 A-update is the winning image
    // (id%3=0 among survivors), NULL everywhere else — carried rows AND
    // keys refreshed only through the B side
    "q_cdc_view_drift" ->
      """SELECT CAST(c_custkey AS INT) AS id,
        |  CASE WHEN c_custkey % 3 = 0 THEN upper(c_name)
        |       ELSE c_name END AS name,
        |  CAST(c_custkey * 7 % 1000
        |    + CASE WHEN c_custkey % 4 = 0 THEN 500 ELSE 0 END
        |    AS BIGINT) AS balance,
        |  CASE WHEN c_custkey % 3 = 0 THEN 'gold' ELSE NULL END AS tier,
        |  CASE WHEN c_custkey % 3 = 0 OR c_custkey % 4 = 0
        |       THEN 'refreshed' ELSE 'carried' END AS maintained_via
        |FROM customer
        |WHERE c_custkey % 7 <> 0 AND c_custkey % 5 <> 0
        |ORDER BY id""".stripMargin,

    // closed-form fold of the FK-agg lifecycles: the final rollup over
    // surviving facts' post-gen-2 fks/amounts joined to surviving dims'
    // post-gen-2 groups; a group is 'delta_applied' iff it appears in
    // the touched facts' OLD (pre-batch fk → pre-batch group) or NEW
    // (post-batch fk → post-batch group, survivors only) contribution
    // sets — exactly the retraction∪insertion frontier the merge
    // rewrites. Touched facts = own deltas ∪ dim fan-out, all inside
    // the horizon.
    "q_cdc_fk_agg_view" -> fkAggViewOracle,

    // IDENTICAL closed form: the streaming drive delivers the same two
    // FK generations through foreachBatch micro-batches with a
    // checkpoint restart between them, and must land on the same
    // maintained rollup (a re-bootstrap on restart would flip every
    // marker; a torn or non-idempotent state publish would shift a
    // group; a fan-out miss would leave a moved contribution behind)
    "q_cdc_fk_stream_ivm" -> fkAggViewOracle,

    // IDENTICAL closed form again: here the maintained rollup is read
    // through the JOIN-bearing MV route — a fact⋈dim aggregate over
    // the post-delta base parquets rewritten onto the maintained
    // state — so equality proves routing changed nothing while the
    // in-gate require proves neither base table was scanned
    "q_cdc_mv_fk_ivm" -> fkAggViewOracle,

    // the SAME closed form a fourth time — here the maintained state the
    // routed query reads was produced by the STREAMING drive (foreachBatch
    // micro-batches with a checkpoint restart), so equality proves the
    // full stream-maintain-then-route loop end to end: a re-bootstrap on
    // restart, a torn state publish, or a routing value change each
    // hash-mismatch
    "q_cdc_mv_stream_ivm" -> fkAggViewOracle,

    // computed from the BASE table — the gate's plan reads the MV, so
    // equality here IS the proof the rewrite preserved semantics
    "q_cdc_mv_rewrite" ->
      """SELECT c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(sum(c_custkey) AS BIGINT) AS key_sum
        |FROM customer GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

    // ONE post-delta closed form for BOTH phases: the stale phase fell
    // back to the (post-delta) base — had the guard failed open it
    // would have served v0's pre-delta rollup and mismatched — and the
    // fresh phase routed onto the v1 MV; the plan witnesses pin which
    // path each phase actually read
    "q_cdc_mv_fresh" ->
      """WITH m AS (SELECT lower(c_mktsegment) AS g,
        |    CAST(c_custkey * 7 % 1000
        |      + CASE WHEN c_custkey % 3 = 0 THEN 500 ELSE 0 END
        |      AS BIGINT) AS m
        |  FROM customer),
        |v AS (SELECT g, CAST(count(*) AS BIGINT) AS n_members,
        |    CAST(sum(m) AS BIGINT) AS total FROM m GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 'fresh_routed' AS phase, g, n_members, total FROM v
        |  UNION ALL
        |  SELECT 'stale_fallback', g, n_members, total FROM v)
        |ORDER BY phase, g""".stripMargin,

    // the post-delta closed form: the catalog's STALE exact-grain
    // member held the PRE-delta rollup and was registered first (it
    // would also win the cost choice), so a freshness gate that failed
    // open serves stale values and mismatches; the plan witness pins
    // that the FRESH finer view was read and neither the base nor the
    // stale store
    "q_cdc_mv_fresh_multi" ->
      """WITH m AS (SELECT lower(c_mktsegment) AS g,
        |    CAST(c_custkey * 7 % 1000
        |      + CASE WHEN c_custkey % 3 = 0 THEN 500 ELSE 0 END
        |      AS BIGINT) AS m
        |  FROM customer)
        |SELECT g, CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(sum(m) AS BIGINT) AS total
        |FROM m GROUP BY 1 ORDER BY g""".stripMargin,

    // computed from the BASE; the plan witness requires the EXACT
    // segment-grain view was read and neither the base nor the finer
    // (segment, nation) registration that was installed FIRST — the
    // hash then proves the cost-based choice preserved semantics
    "q_cdc_mv_choice" ->
      """SELECT c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(sum(c_custkey) AS BIGINT) AS key_sum
        |FROM customer GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

    // computed from the BASE table — the gate's plan filters and
    // re-folds the finer MV through the widened algebra, so equality
    // proves the min/max semilattice folds and the avg sum/count
    // decomposition are all value-exact (avg is spelled as the same
    // exact-integer-sums double division all three computations use)
    "q_cdc_mv_stats" ->
      """SELECT c_mktsegment,
        |  CAST(min(c_custkey) AS BIGINT) AS min_key,
        |  CAST(max(c_custkey) AS BIGINT) AS max_key,
        |  CAST(sum(c_custkey) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS avg_key
        |FROM customer WHERE c_nationkey < 13
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

    // computed from the post-delta BASE closed form, with the threat
    // test reproduced SYMBOLICALLY (pre-batch extrema joined to the
    // touched keys' old rows): the gate's plan reads the MV the
    // incremental min/max step maintained, so equality proves both the
    // maintained values AND the recompute trigger's exact semantics —
    // a fallback that fired too narrowly would leave a stale extremum,
    // one that fired too widely would flip a witness
    "q_cdc_mv_minmax_ivm" ->
      """WITH c AS (SELECT CAST(c_custkey AS INT) AS id,
        |    lower(c_mktsegment) AS seg FROM customer),
        |s1 AS (SELECT id, seg || '-' || CAST(id // 100 AS VARCHAR) AS g,
        |    CAST(id * 7 % 1000 AS BIGINT) AS bal FROM c),
        |pre AS (SELECT g, min(bal) AS mn, max(bal) AS mx
        |    FROM s1 GROUP BY 1),
        |tk AS (SELECT id FROM c WHERE id < 1024
        |    AND (id % 3 = 0 OR id % 4 = 0 OR id % 5 = 0 OR id % 7 = 0)),
        |f AS (SELECT id,
        |    CASE WHEN id < 1024 AND id % 3 = 0
        |         THEN 'moved-' || CAST(id // 100 AS VARCHAR)
        |         ELSE seg || '-' || CAST(id // 100 AS VARCHAR) END AS g,
        |    CAST(id * 7 % 1000
        |      + CASE WHEN id < 1024 AND id % 4 = 0
        |             THEN 500 ELSE 0 END AS BIGINT) AS bal
        |  FROM c
        |  WHERE NOT (id < 1024 AND (id % 7 = 0 OR id % 5 = 0))),
        |v AS (SELECT g, CAST(count(*) AS BIGINT) AS n_members,
        |    CAST(sum(bal) AS BIGINT) AS total_balance,
        |    CAST(min(bal) AS BIGINT) AS min_balance,
        |    CAST(max(bal) AS BIGINT) AS max_balance FROM f GROUP BY 1),
        |rg AS (SELECT DISTINCT s1.g FROM s1
        |    JOIN tk USING (id) JOIN pre ON s1.g = pre.g
        |    WHERE s1.bal <= pre.mn OR s1.bal >= pre.mx),
        |tg AS (SELECT DISTINCT g FROM (
        |    SELECT s1.g FROM s1 JOIN tk USING (id)
        |    UNION ALL
        |    SELECT f.g FROM f JOIN tk USING (id)))
        |SELECT v.g AS g, v.n_members, v.total_balance,
        |  v.min_balance, v.max_balance,
        |  CASE WHEN rg.g IS NOT NULL THEN 'recomputed'
        |       WHEN tg.g IS NOT NULL THEN 'delta_applied'
        |       ELSE 'carried' END AS maintained_via
        |FROM v LEFT JOIN rg ON v.g = rg.g LEFT JOIN tg ON v.g = tg.g
        |ORDER BY v.g""".stripMargin,

    // computed from the post-delta BASE closed form (both generations'
    // band rules applied — bands are disjoint, so "rules where
    // id < 1024" IS the final state): the gate's plan reads the
    // MAINTAINED MV, so equality proves the two incremental steps kept
    // the materialization exactly base-consistent; maintained_via folds
    // each generation's retraction∪insertion group frontier
    "q_cdc_mv_ivm" ->
      """WITH c AS (SELECT CAST(c_custkey AS INT) AS id,
        |    lower(c_mktsegment) AS seg FROM customer),
        |f AS (SELECT id, seg,
        |    CASE WHEN id < 1024 AND id % 3 = 0
        |         THEN 'moved-' || CAST(id // 100 AS VARCHAR)
        |         ELSE seg || '-' || CAST(id // 100 AS VARCHAR) END AS g,
        |    CAST(id * 7 % 1000
        |      + CASE WHEN id < 1024 AND id % 4 = 0
        |             THEN 500 ELSE 0 END AS BIGINT) AS bal
        |  FROM c
        |  WHERE NOT (id < 1024 AND (id % 7 = 0 OR id % 5 = 0))),
        |v AS (SELECT g, CAST(count(*) AS BIGINT) AS n_members,
        |    CAST(sum(bal) AS BIGINT) AS total_balance FROM f GROUP BY 1),
        |t2 AS (SELECT DISTINCT g FROM (
        |    SELECT seg || '-' || CAST(id // 100 AS VARCHAR) AS g
        |    FROM c WHERE id < 512
        |      AND (id % 3 = 0 OR id % 4 = 0 OR id % 5 = 0 OR id % 7 = 0)
        |    UNION ALL
        |    SELECT g FROM f WHERE id < 512
        |      AND (id % 3 = 0 OR id % 4 = 0 OR id % 5 = 0 OR id % 7 = 0))),
        |t3 AS (SELECT DISTINCT g FROM (
        |    SELECT seg || '-' || CAST(id // 100 AS VARCHAR) AS g
        |    FROM c WHERE id >= 512 AND id < 1024
        |      AND (id % 3 = 0 OR id % 4 = 0 OR id % 5 = 0 OR id % 7 = 0)
        |    UNION ALL
        |    SELECT g FROM f WHERE id >= 512 AND id < 1024
        |      AND (id % 3 = 0 OR id % 4 = 0 OR id % 5 = 0 OR id % 7 = 0)))
        |SELECT v.g AS g, v.n_members, v.total_balance,
        |  CASE WHEN t2.g IS NOT NULL AND t3.g IS NOT NULL THEN 'g2+g3'
        |       WHEN t2.g IS NOT NULL THEN 'g2'
        |       WHEN t3.g IS NOT NULL THEN 'g3'
        |       ELSE 'carried' END AS maintained_via
        |FROM v LEFT JOIN t2 ON v.g = t2.g LEFT JOIN t3 ON v.g = t3.g
        |ORDER BY v.g""".stripMargin,

    // computed from the BASE table — the gate's plan filters and
    // re-aggregates the finer MV, so equality proves the filter
    // pushdown and the rollup fold are both semantics-preserving
    "q_cdc_mv_rollup" ->
      """SELECT c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(sum(c_custkey) AS BIGINT) AS key_sum
        |FROM customer WHERE c_nationkey < 13
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

    // both catalogs' closed forms from their BASE tables — each routed
    // query read its own MV (per-query require), so equality proves the
    // catalog picked the right registration per base and neither answer
    // leaked into the other
    "q_cdc_mv_multi" ->
      """SELECT * FROM (
        |  SELECT 'customer' AS src, c_mktsegment AS k,
        |    CAST(count(*) AS BIGINT) AS n_members,
        |    CAST(sum(c_custkey) AS BIGINT) AS key_sum
        |  FROM customer WHERE c_nationkey < 13
        |  GROUP BY c_mktsegment
        |  UNION ALL
        |  SELECT 'orders', o_orderpriority,
        |    CAST(count(*) AS BIGINT), CAST(sum(o_custkey) AS BIGINT)
        |  FROM orders GROUP BY o_orderpriority)
        |ORDER BY src, k""".stripMargin,

    // the rollup's closed form with a real HAVING — the gate's plan
    // reads the MV and the post-aggregation filter rebinds onto the
    // routed outputs, so equality proves the rewrite's exprId-preserving
    // alias contract under a parent operator that reads agg results
    "q_cdc_mv_having" ->
      """SELECT c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(sum(c_custkey) AS BIGINT) AS key_sum
        |FROM customer WHERE c_nationkey < 13
        |GROUP BY 1 HAVING count(*) > 150
        |ORDER BY c_mktsegment""".stripMargin,

    // closed-form fold of both FK-view lifecycles: surviving facts
    // (orderkey%11≠0) with their post-gen-2 fk/amount join surviving
    // dims (custkey%13≠0) with post-gen-2 segments; maintained_via =
    // 'refreshed' exactly where generation 2 touched the fact — its own
    // delta (%9=0) or the dim fan-out probe on the PRE-batch fk
    // (custkey%10=0 ∨ %13=0)
    "q_cdc_fk_view" ->
      """WITH f AS (
        |  SELECT CAST(o_orderkey AS INT) AS order_id,
        |    CASE WHEN o_orderkey % 9 = 0
        |         THEN CAST(o_orderkey % 100 + 1 AS INT)
        |         ELSE CAST(o_custkey AS INT) END AS cust_id,
        |    CAST(o_orderkey * 3 % 1000
        |      + CASE WHEN o_orderkey % 9 = 0 THEN 5000 ELSE 0 END
        |      AS BIGINT) AS amount,
        |    (o_orderkey % 9 = 0 OR o_custkey % 10 = 0
        |      OR o_custkey % 13 = 0) AS touched
        |  FROM orders WHERE o_orderkey % 11 <> 0),
        |d AS (
        |  SELECT CAST(c_custkey AS INT) AS d_id,
        |    CASE WHEN c_custkey % 10 = 0 THEN 'vip:' || lower(c_mktsegment)
        |         ELSE lower(c_mktsegment) END AS seg
        |  FROM customer WHERE c_custkey % 13 <> 0)
        |SELECT f.order_id, f.cust_id, f.amount, d.seg,
        |  CASE WHEN f.touched THEN 'refreshed' ELSE 'carried' END
        |    AS maintained_via
        |FROM f JOIN d ON f.cust_id = d.d_id
        |ORDER BY order_id""".stripMargin,

    // closed-form fold of the agg-view lifecycles: survivors' final
    // group/balance aggregate per group; a group is 'delta_applied' iff
    // it appears among the touched keys' OLD (gen-1 segment) or NEW
    // (post-gen-2) group memberships — the retraction∪insertion set the
    // incremental merge rewrites
    "q_cdc_agg_view" -> aggViewOracle,

    // the diff of the fixture's two view generations, computed from
    // both closed forms via the same full-outer-join/suppress-unchanged
    // algebra — a feed row for an untouched group, a missed touched
    // group, or a wrong before/after image all hash-mismatch
    "q_cdc_view_changefeed" ->
      s"""WITH c AS (SELECT CAST(c_custkey AS INT) AS id,
         |    lower(c_mktsegment) AS seg FROM customer),
         |v1 AS (SELECT seg || '-' || CAST(id // 100 AS VARCHAR) AS g,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(id * 7 % 1000) AS BIGINT) AS t
         |  FROM c GROUP BY 1),
         |f AS (SELECT id,
         |    CASE WHEN id < $AggViewHorizon AND id % 3 = 0
         |         THEN 'moved-' || CAST(id // 100 AS VARCHAR)
         |         ELSE seg || '-' || CAST(id // 100 AS VARCHAR) END AS g,
         |    CAST(id * 7 % 1000
         |      + CASE WHEN id < $AggViewHorizon AND id % 4 = 0
         |             THEN 500 ELSE 0 END AS BIGINT) AS bal
         |  FROM c
         |  WHERE NOT (id < $AggViewHorizon
         |             AND (id % 7 = 0 OR id % 5 = 0))),
         |v2 AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(bal) AS BIGINT) AS t FROM f GROUP BY 1)
         |SELECT COALESCE(v1.g, v2.g) AS g,
         |  CASE WHEN v1.g IS NULL THEN 'c'
         |       WHEN v2.g IS NULL THEN 'd' ELSE 'u' END AS op,
         |  v1.n AS old_n_members, v1.t AS old_total,
         |  v2.n AS new_n_members, v2.t AS new_total
         |FROM v1 FULL OUTER JOIN v2 ON v1.g = v2.g
         |WHERE v1.g IS NULL OR v2.g IS NULL
         |   OR v1.n <> v2.n OR v1.t <> v2.t
         |ORDER BY g""".stripMargin,

    // both versions from their own closed forms: v0 = the pre-delta
    // bootstrap rollup (all orders ⋈ all customers, raw amounts and
    // groups), v1 = the FK gate's post-delta form — a maintenance step
    // that mutated v0 in place would flip the version-0 half only
    "q_cdc_state_asof" ->
      s"""WITH v0 AS (
         |  SELECT lower(c_mktsegment) || '-'
         |      || CAST(c_custkey // 100 AS VARCHAR) AS g,
         |    CAST(count(*) AS BIGINT) AS n_members,
         |    CAST(sum(o_orderkey * 3 % 1000) AS BIGINT) AS total_amount
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  GROUP BY 1),
         |f AS (
         |  SELECT o_orderkey AS oid,
         |    CASE WHEN o_orderkey % 9 = 0 AND o_custkey < $FkAggHorizon
         |         THEN CAST(o_orderkey % 100 + 1 AS INT)
         |         ELSE CAST(o_custkey AS INT) END AS fk_new,
         |    CAST(o_orderkey * 3 % 1000
         |      + CASE WHEN o_orderkey % 9 = 0 AND o_custkey < $FkAggHorizon
         |             THEN 5000 ELSE 0 END AS BIGINT) AS amount
         |  FROM orders
         |  WHERE NOT (o_orderkey % 11 = 0 AND o_custkey < $FkAggHorizon)),
         |d AS (
         |  SELECT CAST(c_custkey AS INT) AS d_id,
         |    CASE WHEN c_custkey % 10 = 0 AND c_custkey < $FkAggHorizon
         |         THEN 'vip-' || CAST(c_custkey // 100 AS VARCHAR)
         |         ELSE lower(c_mktsegment) || '-'
         |           || CAST(c_custkey // 100 AS VARCHAR) END AS g_post,
         |    NOT (c_custkey % 13 = 0 AND c_custkey < $FkAggHorizon)
         |      AS alive
         |  FROM customer),
         |v1 AS (SELECT d.g_post AS g,
         |    CAST(count(*) AS BIGINT) AS n_members,
         |    CAST(sum(f.amount) AS BIGINT) AS total_amount
         |  FROM f JOIN d ON f.fk_new = d.d_id AND d.alive GROUP BY 1)
         |SELECT * FROM (
         |  SELECT CAST(0 AS BIGINT) AS version, g, n_members,
         |    total_amount FROM v0
         |  UNION ALL
         |  SELECT CAST(1 AS BIGINT), g, n_members, total_amount FROM v1)
         |ORDER BY version, g""".stripMargin,

    // IDENTICAL closed form: the streaming drive delivers the same two
    // generations through foreachBatch micro-batches with a checkpoint
    // restart between them, and must land on the same maintained view
    // (a re-bootstrap on restart would flip every marker; a torn state
    // publish or parquet round-trip loss would shift a group)
    "q_cdc_stream_ivm" -> aggViewOracle,

    // the IN-LOOP cascade: the downstream segment rollup of the
    // changefeed drive's FINAL view (three micro-batches, two
    // restarts, live retention), computed directly from the closed
    // form — the gate's `down` state was maintained per batch from
    // the feed alone, so a missed retraction anywhere in the chain,
    // a re-bootstrap on a restart, or a double-applied replay all
    // hash-mismatch
    "q_cdc_stream_cascade" ->
      s"""WITH c AS (SELECT CAST(c_custkey AS INT) AS id,
         |    lower(c_mktsegment) AS seg FROM customer),
         |m1 AS (SELECT id,
         |    CASE WHEN id < $AggViewHorizon AND id % 3 = 0
         |         THEN 'moved-' || CAST(id // 100 AS VARCHAR)
         |         ELSE seg || '-' || CAST(id // 100 AS VARCHAR) END AS g,
         |    CAST(id * 7 % 1000 AS BIGINT) AS bal
         |  FROM c WHERE NOT (id < $AggViewHorizon AND id % 7 = 0)),
         |v2 AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(bal + CASE WHEN id < $AggViewHorizon AND id % 4 = 0
         |                        THEN 500 ELSE 0 END) AS BIGINT) AS t
         |  FROM m1 WHERE NOT (id < $AggViewHorizon AND id % 5 = 0)
         |  GROUP BY 1)
         |SELECT split_part(g, '-', 1) AS seg,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(sum(n) AS BIGINT) AS members,
         |  CAST(sum(t) AS BIGINT) AS balance
         |FROM v2 GROUP BY 1 ORDER BY seg""".stripMargin,

    // the DECOUPLED consumer: q_cdc_stream_cascade's closed form
    // VERBATIM — a second, separately-checkpointed streaming query
    // tailing the producer's published feed parquet must land on
    // exactly the in-loop cascade's answer; a missed generation, a
    // double-applied producer replay, a consumer re-bootstrap on any
    // of its restarts, or a fold that read anything but the feed all
    // hash-mismatch
    "q_cdc_feed_consumer" ->
      s"""WITH c AS (SELECT CAST(c_custkey AS INT) AS id,
         |    lower(c_mktsegment) AS seg FROM customer),
         |m1 AS (SELECT id,
         |    CASE WHEN id < $AggViewHorizon AND id % 3 = 0
         |         THEN 'moved-' || CAST(id // 100 AS VARCHAR)
         |         ELSE seg || '-' || CAST(id // 100 AS VARCHAR) END AS g,
         |    CAST(id * 7 % 1000 AS BIGINT) AS bal
         |  FROM c WHERE NOT (id < $AggViewHorizon AND id % 7 = 0)),
         |v2 AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(bal + CASE WHEN id < $AggViewHorizon AND id % 4 = 0
         |                        THEN 500 ELSE 0 END) AS BIGINT) AS t
         |  FROM m1 WHERE NOT (id < $AggViewHorizon AND id % 5 = 0)
         |  GROUP BY 1)
         |SELECT split_part(g, '-', 1) AS seg,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(sum(n) AS BIGINT) AS members,
         |  CAST(sum(t) AS BIGINT) AS balance
         |FROM v2 GROUP BY 1 ORDER BY seg""".stripMargin,

    // the RETENTION-RECOVERY consumer: the FOUR-generation closed form
    // (the extra generation relocates every 9th surviving key to the
    // 'late' segment; %9 ⊂ %3, so those keys moved in gen 2 and move
    // AGAIN in gen 4 — latest lsn wins). The consumer reaches it by
    // re-seeding from the producer's view@2 snapshot and then applying
    // feed v3 incrementally, so a stale snapshot, a skipped or
    // double-applied v3, a 'late' segment the incremental path failed
    // to create, or a moved group left unretracted all hash-mismatch
    "q_cdc_feed_reseed" ->
      s"""WITH c AS (SELECT CAST(c_custkey AS INT) AS id,
         |    lower(c_mktsegment) AS seg FROM customer),
         |m1 AS (SELECT id,
         |    CASE WHEN id < $AggViewHorizon AND id % 9 = 0
         |         THEN 'late-' || CAST(id // 100 AS VARCHAR)
         |         WHEN id < $AggViewHorizon AND id % 3 = 0
         |         THEN 'moved-' || CAST(id // 100 AS VARCHAR)
         |         ELSE seg || '-' || CAST(id // 100 AS VARCHAR) END AS g,
         |    CAST(id * 7 % 1000 AS BIGINT) AS bal
         |  FROM c WHERE NOT (id < $AggViewHorizon AND id % 7 = 0)),
         |v3 AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(bal + CASE WHEN id < $AggViewHorizon AND id % 4 = 0
         |                        THEN 500 ELSE 0 END) AS BIGINT) AS t
         |  FROM m1 WHERE NOT (id < $AggViewHorizon AND id % 5 = 0)
         |  GROUP BY 1)
         |SELECT split_part(g, '-', 1) AS seg,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(sum(n) AS BIGINT) AS members,
         |  CAST(sum(t) AS BIGINT) AS balance
         |FROM v3 GROUP BY 1 ORDER BY seg""".stripMargin,

    // the FEED CHAIN: the letter rollup of the segment rollup of the
    // final view's closed form — stage 2's state was maintained purely
    // from stage 1's relayed feed, which was maintained purely from
    // the producer's feed, so a missed retraction at either hop, a
    // double-applied replay at either consumer, or a relay image
    // drifting from stage 1's own rollup all hash-mismatch
    "q_cdc_feed_chain" ->
      s"""WITH c AS (SELECT CAST(c_custkey AS INT) AS id,
         |    lower(c_mktsegment) AS seg FROM customer),
         |m1 AS (SELECT id,
         |    CASE WHEN id < $AggViewHorizon AND id % 3 = 0
         |         THEN 'moved-' || CAST(id // 100 AS VARCHAR)
         |         ELSE seg || '-' || CAST(id // 100 AS VARCHAR) END AS g,
         |    CAST(id * 7 % 1000 AS BIGINT) AS bal
         |  FROM c WHERE NOT (id < $AggViewHorizon AND id % 7 = 0)),
         |v2 AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(bal + CASE WHEN id < $AggViewHorizon AND id % 4 = 0
         |                        THEN 500 ELSE 0 END) AS BIGINT) AS t
         |  FROM m1 WHERE NOT (id < $AggViewHorizon AND id % 5 = 0)
         |  GROUP BY 1),
         |w AS (SELECT split_part(g, '-', 1) AS seg,
         |    CAST(count(*) AS BIGINT) AS n_groups,
         |    CAST(sum(n) AS BIGINT) AS members,
         |    CAST(sum(t) AS BIGINT) AS balance
         |  FROM v2 GROUP BY 1)
         |SELECT substr(seg, 1, 1) AS letter,
         |  CAST(count(*) AS BIGINT) AS n_segs,
         |  CAST(sum(n_groups) AS BIGINT) AS n_groups,
         |  CAST(sum(members) AS BIGINT) AS members,
         |  CAST(sum(balance) AS BIGINT) AS balance
         |FROM w GROUP BY 1 ORDER BY letter""".stripMargin,

    // the decoupled MIN/MAX consumer: q_cdc_feed_consumer's closed
    // form widened with each segment's extrema — maintained on the
    // consumer side of the wire from the feed + the consumer's OWN
    // applyDelta replica, so a stale extremum (under-firing threat), a
    // wrong recompute scope, or a replica drifting from the view all
    // hash-mismatch
    "q_cdc_feed_consumer_stats" ->
      s"""WITH c AS (SELECT CAST(c_custkey AS INT) AS id,
         |    lower(c_mktsegment) AS seg FROM customer),
         |m1 AS (SELECT id,
         |    CASE WHEN id < $AggViewHorizon AND id % 3 = 0
         |         THEN 'moved-' || CAST(id // 100 AS VARCHAR)
         |         ELSE seg || '-' || CAST(id // 100 AS VARCHAR) END AS g,
         |    CAST(id * 7 % 1000 AS BIGINT) AS bal
         |  FROM c WHERE NOT (id < $AggViewHorizon AND id % 7 = 0)),
         |v2 AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(bal + CASE WHEN id < $AggViewHorizon AND id % 4 = 0
         |                        THEN 500 ELSE 0 END) AS BIGINT) AS t
         |  FROM m1 WHERE NOT (id < $AggViewHorizon AND id % 5 = 0)
         |  GROUP BY 1)
         |SELECT split_part(g, '-', 1) AS seg,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(sum(n) AS BIGINT) AS members,
         |  CAST(sum(t) AS BIGINT) AS balance,
         |  CAST(min(t) AS BIGINT) AS min_balance,
         |  CAST(max(t) AS BIGINT) AS max_balance
         |FROM v2 GROUP BY 1 ORDER BY seg""".stripMargin,

    // the CASCADE stage: the downstream segment rollup of the
    // post-delta view, computed directly from the closed form — the
    // gate reaches it by folding the v0→v1 feed into the BOOTSTRAP
    // rollup only (neither v1 nor any base read), so a missed
    // retraction, a double-counted upsert, or a phantom/missing
    // downstream group all hash-mismatch
    "q_cdc_feed_cascade" ->
      s"""WITH c AS (SELECT CAST(c_custkey AS INT) AS id,
         |    lower(c_mktsegment) AS seg FROM customer),
         |f AS (SELECT id,
         |    CASE WHEN id < $AggViewHorizon AND id % 3 = 0
         |         THEN 'moved-' || CAST(id // 100 AS VARCHAR)
         |         ELSE seg || '-' || CAST(id // 100 AS VARCHAR) END AS g,
         |    CAST(id * 7 % 1000
         |      + CASE WHEN id < $AggViewHorizon AND id % 4 = 0
         |             THEN 500 ELSE 0 END AS BIGINT) AS bal
         |  FROM c
         |  WHERE NOT (id < $AggViewHorizon
         |             AND (id % 7 = 0 OR id % 5 = 0))),
         |v AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(bal) AS BIGINT) AS t FROM f GROUP BY 1)
         |SELECT split_part(g, '-', 1) AS seg,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(sum(n) AS BIGINT) AS members,
         |  CAST(sum(t) AS BIGINT) AS balance
         |FROM v GROUP BY 1 ORDER BY seg""".stripMargin,

    // the min/max-bearing cascade: the same post-delta closed form as
    // q_cdc_feed_cascade, widened with each segment's extrema — the
    // gate maintains them from the feed via the threat/recompute
    // dichotomy (retraction at a boundary → scoped re-aggregation from
    // the upstream view; everything else folds least/greatest), so a
    // stale extremum left by an under-firing threat test, or a wrong
    // recompute scope, hash-mismatches
    "q_cdc_feed_cascade_minmax" ->
      s"""WITH c AS (SELECT CAST(c_custkey AS INT) AS id,
         |    lower(c_mktsegment) AS seg FROM customer),
         |f AS (SELECT id,
         |    CASE WHEN id < $AggViewHorizon AND id % 3 = 0
         |         THEN 'moved-' || CAST(id // 100 AS VARCHAR)
         |         ELSE seg || '-' || CAST(id // 100 AS VARCHAR) END AS g,
         |    CAST(id * 7 % 1000
         |      + CASE WHEN id < $AggViewHorizon AND id % 4 = 0
         |             THEN 500 ELSE 0 END AS BIGINT) AS bal
         |  FROM c
         |  WHERE NOT (id < $AggViewHorizon
         |             AND (id % 7 = 0 OR id % 5 = 0))),
         |v AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(bal) AS BIGINT) AS t FROM f GROUP BY 1)
         |SELECT split_part(g, '-', 1) AS seg,
         |  CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(sum(n) AS BIGINT) AS members,
         |  CAST(sum(t) AS BIGINT) AS balance,
         |  CAST(min(t) AS BIGINT) AS min_balance,
         |  CAST(max(t) AS BIGINT) AS max_balance
         |FROM v GROUP BY 1 ORDER BY seg""".stripMargin,

    // the CONSUMER-side reconstruction: generation 2's rollup computed
    // directly from the fixture's closed form — the gate reaches it by
    // applying the 1→2 feed onto generation 1 only, so a dropped 'd',
    // a stale new_* image, or an unreplaced touched key hash-mismatch
    "q_cdc_feed_apply" ->
      s"""WITH c AS (SELECT CAST(c_custkey AS INT) AS id,
         |    lower(c_mktsegment) AS seg FROM customer),
         |f AS (SELECT id,
         |    CASE WHEN id < $AggViewHorizon AND id % 3 = 0
         |         THEN 'moved-' || CAST(id // 100 AS VARCHAR)
         |         ELSE seg || '-' || CAST(id // 100 AS VARCHAR) END AS g,
         |    CAST(id * 7 % 1000
         |      + CASE WHEN id < $AggViewHorizon AND id % 4 = 0
         |             THEN 500 ELSE 0 END AS BIGINT) AS bal
         |  FROM c
         |  WHERE NOT (id < $AggViewHorizon
         |             AND (id % 7 = 0 OR id % 5 = 0)))
         |SELECT g, CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(sum(bal) AS BIGINT) AS total_balance
         |FROM f GROUP BY 1 ORDER BY g""".stripMargin,

    // the retained per-micro-batch feeds of the in-loop change-feed
    // drive: all three view generations from their closed forms (v0 =
    // bootstrap; v1 = A-side moves/deletes applied; v2 = + B-side
    // updates/deletes), consecutive pairs diffed with the same
    // full-outer/suppress-unchanged algebra; version 0's all-'c'
    // bootstrap feed is pruned by the live keepLast=2 retention, so
    // the output is feeds 1 and 2 — a feed row for an untouched group,
    // a wrong image, a re-bootstrap on a restart, or a prune that
    // swept the wrong generations each hash-mismatch
    "q_cdc_stream_changefeed" ->
      s"""WITH c AS (SELECT CAST(c_custkey AS INT) AS id,
         |    lower(c_mktsegment) AS seg FROM customer),
         |m1 AS (SELECT id,
         |    CASE WHEN id < $AggViewHorizon AND id % 3 = 0
         |         THEN 'moved-' || CAST(id // 100 AS VARCHAR)
         |         ELSE seg || '-' || CAST(id // 100 AS VARCHAR) END AS g,
         |    CAST(id * 7 % 1000 AS BIGINT) AS bal
         |  FROM c WHERE NOT (id < $AggViewHorizon AND id % 7 = 0)),
         |v0 AS (SELECT seg || '-' || CAST(id // 100 AS VARCHAR) AS g,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(id * 7 % 1000) AS BIGINT) AS t
         |  FROM c GROUP BY 1),
         |v1 AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(bal) AS BIGINT) AS t FROM m1 GROUP BY 1),
         |v2 AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(bal + CASE WHEN id < $AggViewHorizon AND id % 4 = 0
         |                        THEN 500 ELSE 0 END) AS BIGINT) AS t
         |  FROM m1 WHERE NOT (id < $AggViewHorizon AND id % 5 = 0)
         |  GROUP BY 1),
         |f1 AS (SELECT COALESCE(a.g, b.g) AS g,
         |    CASE WHEN a.g IS NULL THEN 'c'
         |         WHEN b.g IS NULL THEN 'd' ELSE 'u' END AS op,
         |    a.n AS old_n_members, a.t AS old_total_balance,
         |    b.n AS new_n_members, b.t AS new_total_balance
         |  FROM v0 a FULL OUTER JOIN v1 b ON a.g = b.g
         |  WHERE a.g IS NULL OR b.g IS NULL OR a.n <> b.n OR a.t <> b.t),
         |f2 AS (SELECT COALESCE(a.g, b.g) AS g,
         |    CASE WHEN a.g IS NULL THEN 'c'
         |         WHEN b.g IS NULL THEN 'd' ELSE 'u' END AS op,
         |    a.n AS old_n_members, a.t AS old_total_balance,
         |    b.n AS new_n_members, b.t AS new_total_balance
         |  FROM v1 a FULL OUTER JOIN v2 b ON a.g = b.g
         |  WHERE a.g IS NULL OR b.g IS NULL OR a.n <> b.n OR a.t <> b.t)
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS version, * FROM f1
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), * FROM f2)
         |ORDER BY version, g""".stripMargin,

    // pure mod-rule closed form: belief BEFORE corrections landed is the
    // original; the same valid instant AFTER is the corrected text for
    // %4 keys; update-era full knowledge prefers the %3 update (valid
    // axis outranks), falling back to corrected/original
    "q_cdc_bitemporal" ->
      """SELECT CAST(c_custkey AS INT) AS id,
        |  c_name AS name_v1_t1,
        |  CASE WHEN c_custkey % 4 = 0 THEN c_name || ' (corrected)'
        |       ELSE c_name END AS name_v1_t2,
        |  CASE WHEN c_custkey % 3 = 0 THEN upper(c_name)
        |       WHEN c_custkey % 4 = 0 THEN c_name || ' (corrected)'
        |       ELSE c_name END AS name_v2_t2
        |FROM customer ORDER BY id""".stripMargin,

    // the agg-view closed form GATED on transaction completeness: a
    // gen-2 event applies iff its txn has END metadata (tx%5≠0) AND all
    // member events arrived (no member key ≡ 0 mod 11). `ap` is the
    // applied-key set; everything else folds gen-1 values and stays
    // 'carried' — a consumer that applied a torn or in-flight
    // transaction (or dropped a complete one) hash-mismatches
    "q_cdc_txn_ivm" ->
      s"""WITH c AS (SELECT CAST(c_custkey AS INT) AS id,
         |    lower(c_mktsegment) AS seg FROM customer),
         |del AS (
         |  SELECT id, id // $TxnIvmSpan + 1 AS tx FROM c
         |    WHERE id < $AggViewHorizon AND id % 3 = 0
         |  UNION ALL SELECT id, id // $TxnIvmSpan + 1 FROM c
         |    WHERE id < $AggViewHorizon AND id % 7 = 0
         |  UNION ALL SELECT id, id // $TxnIvmSpan + 1 FROM c
         |    WHERE id < $AggViewHorizon AND id % 4 = 0
         |  UNION ALL SELECT id, id // $TxnIvmSpan + 1 FROM c
         |    WHERE id < $AggViewHorizon AND id % 5 = 0),
         |ok AS (SELECT tx FROM (
         |    SELECT tx, count(*) AS n_expected,
         |      sum(CASE WHEN id % 11 <> 0 THEN 1 ELSE 0 END) AS n_seen
         |    FROM del GROUP BY 1)
         |  WHERE tx % 5 <> 0 AND n_seen = n_expected),
         |ap AS (SELECT DISTINCT id FROM del JOIN ok USING (tx)),
         |st AS (SELECT c.id, c.seg, ap.id IS NOT NULL AS app
         |  FROM c LEFT JOIN ap ON ap.id = c.id),
         |live AS (SELECT id, seg, app,
         |    CASE WHEN id < $AggViewHorizon AND id % 3 = 0 AND app
         |         THEN 'moved-' || CAST(id // 100 AS VARCHAR)
         |         ELSE seg || '-' || CAST(id // 100 AS VARCHAR) END AS g,
         |    CAST(id * 7 % 1000
         |      + CASE WHEN id < $AggViewHorizon AND id % 4 = 0 AND app
         |             THEN 500 ELSE 0 END AS BIGINT) AS bal
         |  FROM st
         |  WHERE NOT (id < $AggViewHorizon AND app
         |             AND (id % 7 = 0 OR id % 5 = 0))),
         |v AS (SELECT g, CAST(count(*) AS BIGINT) AS n_members,
         |    CAST(sum(bal) AS BIGINT) AS total_balance FROM live GROUP BY 1),
         |tg AS (SELECT DISTINCT g FROM (
         |    SELECT seg || '-' || CAST(id // 100 AS VARCHAR) AS g
         |    FROM c JOIN ap USING (id)
         |    UNION ALL
         |    SELECT g FROM live WHERE app))
         |SELECT v.g AS g, v.n_members, v.total_balance,
         |  CASE WHEN tg.g IS NOT NULL THEN 'delta_applied'
         |       ELSE 'carried' END AS maintained_via
         |FROM v LEFT JOIN tg ON v.g = tg.g ORDER BY v.g""".stripMargin,

    // closed-form from the change-mix mod rules (see changeMix): every
    // customer snapshots (+1), every 3rd updates (0), every 7th deletes
    // (−1) — so the maintained counters fold back to per-segment counts.
    "q_cdc_incremental_agg" ->
      """SELECT lower(c_mktsegment) || '.example.com' AS email_domain,
        |  CAST(sum(CASE WHEN c_custkey % 7 != 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS live_count,
        |  CAST(count(*) + sum(CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END)
        |    + sum(CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_updates
        |FROM customer GROUP BY 1 ORDER BY email_domain""".stripMargin,

    // one closed-form side, duplicated: the gate's replica side must
    // land on the identical count/XOR or `matches` flips false
    "q_cdc_table_checksum" ->
      """WITH state AS (
        |  SELECT CAST(c_custkey AS INT) AS id,
        |    CASE WHEN c_custkey % 3 = 0 THEN upper(c_name)
        |         ELSE c_name END AS name,
        |    regexp_replace(lower(c_name), '[^a-z0-9]+', '.', 'g')
        |      || '@' || lower(c_mktsegment) || '.example.com' AS email,
        |    CAST(CASE WHEN c_custkey % 3 = 0 THEN c_custkey + 10000000
        |              ELSE c_custkey END AS BIGINT) AS lsn
        |  FROM customer WHERE c_custkey % 7 <> 0),
        |h AS (SELECT id // 100 AS chunk,
        |        CAST('0x' || substr(md5(
        |          concat_ws('|', id, name, email, lsn)), 1, 14) AS BIGINT) AS h
        |      FROM state),
        |c AS (SELECT chunk, CAST(count(*) AS BIGINT) AS n,
        |        CAST(bit_xor(h) AS BIGINT) AS x
        |      FROM h GROUP BY 1)
        |SELECT CAST(chunk AS INT) AS chunk, n AS n_src, x AS xor_src,
        |  n AS n_replica, x AS xor_replica, true AS matches
        |FROM c ORDER BY chunk""".stripMargin,

    // closed-form frontier of the change mix: every 7th key tombstones
    // out; every 3rd surviving key's winner is its update (lsn=id+10M);
    // the rest keep their snapshot (lsn=id). No 'd' rows remain.
    "q_cdc_log_compaction" ->
      """SELECT * FROM (
        |  SELECT 'r' AS op, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(c_custkey) AS BIGINT) AS sum_ids,
        |    CAST(max(c_custkey) AS BIGINT) AS max_lsn
        |  FROM customer WHERE c_custkey % 3 <> 0 AND c_custkey % 7 <> 0
        |  UNION ALL
        |  SELECT 'u', CAST(count(*) AS BIGINT),
        |    CAST(sum(c_custkey) AS BIGINT),
        |    CAST(max(c_custkey) + 10000000 AS BIGINT)
        |  FROM customer WHERE c_custkey % 3 = 0 AND c_custkey % 7 <> 0)
        |ORDER BY op""".stripMargin,

    // same applied-set closed form as q_cdc_txn_consistent, folded over
    // the RELEASED update events only (no snapshot side in the stream)
    "q_cdc_txn_stream" ->
      """WITH k AS (SELECT CAST(c_custkey AS INT) AS id FROM customer),
        |u AS (SELECT id, id // 30 + 1 AS tx FROM k WHERE id % 3 = 0),
        |meta AS (SELECT tx, count(*) AS n_exp FROM u GROUP BY 1),
        |obs AS (SELECT tx, count(*) AS n_seen FROM u
        |        WHERE id % 33 <> 0 GROUP BY 1),
        |applied AS (SELECT meta.tx FROM meta JOIN obs USING (tx)
        |            WHERE meta.tx % 5 <> 0 AND n_seen = n_exp),
        |rel AS (SELECT u.id FROM u JOIN applied USING (tx)
        |        WHERE u.id % 33 <> 0)
        |SELECT CAST(id % 10 AS INT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_released,
        |  CAST(sum(id) AS BIGINT) AS sum_ids,
        |  CAST(max(id) + 10000000 AS BIGINT) AS max_lsn
        |FROM rel GROUP BY 1 ORDER BY bucket""".stripMargin,

    // split of the same fixture into released vs dead-lettered: a txn
    // releases iff its END arrived (tx%5≠0) AND no member is missing
    // (no member id ≡ 0 mod 33); every other txn's ARRIVED events must
    // dead-letter at the horizon. Advancer (tx=-1) never appears.
    "q_cdc_txn_evict" ->
      """WITH k AS (SELECT CAST(c_custkey AS INT) AS id FROM customer),
        |u AS (SELECT id, id // 30 + 1 AS tx FROM k WHERE id % 3 = 0),
        |txs AS (SELECT tx,
        |    sum(CASE WHEN id % 33 = 0 THEN 1 ELSE 0 END) AS n_missing
        |  FROM u GROUP BY 1),
        |v AS (SELECT tx, (tx % 5 <> 0 AND n_missing = 0) AS released
        |      FROM txs),
        |arrived AS (SELECT u.id, v.released FROM u
        |            JOIN v USING (tx) WHERE u.id % 33 <> 0)
        |SELECT CAST(id % 10 AS INT) AS bucket,
        |  CAST(sum(CASE WHEN released THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_released,
        |  CAST(sum(CASE WHEN released THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_dead,
        |  CAST(sum(CASE WHEN released THEN id ELSE 0 END) AS BIGINT)
        |    AS sum_rel_ids,
        |  CAST(sum(CASE WHEN released THEN 0 ELSE id END) AS BIGINT)
        |    AS sum_dead_ids,
        |  CAST(max(id) + 10000000 AS BIGINT) AS max_lsn
        |FROM arrived GROUP BY 1 ORDER BY bucket""".stripMargin,

    // closed-form applied-set derivation from the fixture's mod rules:
    // updates exist for id%3=0 in txns of ≤10 rows (tx = id//30 + 1); a
    // txn applies iff its END arrived (tx%5≠0) AND no member event is
    // still in the pipe (no member id ≡ 0 mod 33)
    "q_cdc_txn_consistent" ->
      """WITH k AS (SELECT CAST(c_custkey AS INT) AS id FROM customer),
        |u AS (SELECT id, id // 30 + 1 AS tx FROM k WHERE id % 3 = 0),
        |meta AS (SELECT tx, count(*) AS n_exp FROM u GROUP BY 1),
        |obs AS (SELECT tx, count(*) AS n_seen FROM u
        |        WHERE id % 33 <> 0 GROUP BY 1),
        |applied AS (SELECT meta.tx FROM meta JOIN obs USING (tx)
        |            WHERE meta.tx % 5 <> 0 AND n_seen = n_exp),
        |upd AS (SELECT u.id FROM u JOIN applied USING (tx)
        |        WHERE u.id % 33 <> 0),
        |state AS (SELECT k.id,
        |    CASE WHEN upd.id IS NOT NULL THEN 1 ELSE 0 END AS updated,
        |    CASE WHEN upd.id IS NOT NULL THEN k.id + 10000000
        |         ELSE k.id END AS lsn
        |  FROM k LEFT JOIN upd ON upd.id = k.id)
        |SELECT CAST(id % 10 AS INT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(updated) AS BIGINT) AS n_updated,
        |  CAST(sum(id) AS BIGINT) AS sum_ids,
        |  CAST(max(lsn) AS BIGINT) AS max_lsn
        |FROM state GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_cdc_latest_state" ->
      """SELECT CAST(c_custkey AS INT) AS id,
        |  CASE WHEN c_custkey % 3 = 0 THEN upper(c_name) ELSE c_name END AS name,
        |  regexp_replace(lower(c_name), '[^a-z0-9]+', '.', 'g')
        |    || '@' || lower(c_mktsegment) || '.example.com' AS email,
        |  CAST(CASE WHEN c_custkey % 3 = 0 THEN c_custkey + 10000000
        |            ELSE c_custkey END AS BIGINT) AS last_lsn
        |FROM customer WHERE c_custkey % 7 != 0
        |ORDER BY id""".stripMargin,

    // the batch gate's closed form + the per-key maintenance marker
    "q_cdc_scd2_incremental" ->
      """WITH ch AS (
        |  SELECT CAST(c_custkey AS INT) AS id, 'r' AS op,
        |    CAST(c_custkey AS BIGINT) AS lsn, c_name AS name
        |  FROM customer
        |  UNION ALL
        |  SELECT CAST(c_custkey AS INT), 'u',
        |    CAST(c_custkey + 10000000 AS BIGINT), upper(c_name)
        |  FROM customer WHERE c_custkey % 3 = 0
        |  UNION ALL
        |  SELECT CAST(c_custkey AS INT), 'd',
        |    CAST(c_custkey + 20000000 AS BIGINT), c_name
        |  FROM customer WHERE c_custkey % 7 = 0),
        |h AS (SELECT *, row_number() OVER w AS version,
        |        coalesce(lead(lsn) OVER w, -1) AS valid_to_lsn
        |      FROM ch WINDOW w AS (PARTITION BY id ORDER BY lsn))
        |SELECT id, CAST(version AS INT) AS version, op, name,
        |  lsn AS valid_from_lsn, CAST(valid_to_lsn AS BIGINT) AS valid_to_lsn,
        |  (valid_to_lsn = -1 AND op != 'd') AS is_current,
        |  CASE WHEN id % 3 = 0 OR id % 7 = 0 THEN 'refreshed'
        |       ELSE 'carried' END AS maintained_via
        |FROM h ORDER BY id, version""".stripMargin,

    "q_cdc_scd2" ->
      """WITH ch AS (
        |  SELECT CAST(c_custkey AS INT) AS id, 'r' AS op,
        |    CAST(c_custkey AS BIGINT) AS lsn, c_name AS name
        |  FROM customer
        |  UNION ALL
        |  SELECT CAST(c_custkey AS INT), 'u',
        |    CAST(c_custkey + 10000000 AS BIGINT), upper(c_name)
        |  FROM customer WHERE c_custkey % 3 = 0
        |  UNION ALL
        |  SELECT CAST(c_custkey AS INT), 'd',
        |    CAST(c_custkey + 20000000 AS BIGINT), c_name
        |  FROM customer WHERE c_custkey % 7 = 0),
        |h AS (SELECT *, row_number() OVER w AS version,
        |        coalesce(lead(lsn) OVER w, -1) AS valid_to_lsn
        |      FROM ch WINDOW w AS (PARTITION BY id ORDER BY lsn))
        |SELECT id, CAST(version AS INT) AS version, op, name,
        |  lsn AS valid_from_lsn, CAST(valid_to_lsn AS BIGINT) AS valid_to_lsn,
        |  (valid_to_lsn = -1 AND op != 'd') AS is_current
        |FROM h ORDER BY id, version""".stripMargin,

    "q_cdc_point_in_time" ->
      """WITH ch AS (
        |  SELECT CAST(c_custkey AS INT) AS id, 'r' AS op,
        |    CAST(c_custkey AS BIGINT) AS lsn, c_name AS name
        |  FROM customer
        |  UNION ALL
        |  SELECT CAST(c_custkey AS INT), 'u',
        |    CAST(c_custkey + 10000000 AS BIGINT), upper(c_name)
        |  FROM customer WHERE c_custkey % 3 = 0
        |  UNION ALL
        |  SELECT CAST(c_custkey AS INT), 'd',
        |    CAST(c_custkey + 20000000 AS BIGINT), c_name
        |  FROM customer WHERE c_custkey % 7 = 0),
        |h AS (SELECT *, row_number() OVER w AS version
        |      FROM ch WINDOW w AS (PARTITION BY id ORDER BY lsn)),
        |o AS (SELECT o_orderkey, CAST(o_custkey AS INT) AS id,
        |        (o_orderkey * 40000) % 30000000 AS q_lsn
        |      FROM orders),
        |m AS (SELECT o.o_orderkey, o.id, o.q_lsn, h.version, h.op, h.name,
        |        row_number() OVER (PARTITION BY o.o_orderkey
        |          ORDER BY h.lsn DESC) AS rn
        |      FROM o JOIN h ON o.id = h.id AND h.lsn <= o.q_lsn)
        |SELECT o_orderkey, id, CAST(q_lsn AS BIGINT) AS q_lsn,
        |  CAST(version AS INT) AS version, op, name
        |FROM m WHERE rn = 1 ORDER BY o_orderkey""".stripMargin,

    "q_cdc_enrich" ->
      """SELECT CAST(c_custkey AS INT) AS id,
        |  'r' AS op_code, 'READ' AS op_label, false AS is_mutation,
        |  CAST(1700000000123 AS BIGINT) AS event_time_ms,
        |  '2023-11-14T22:13:20.123000' AS event_time_iso,
        |  true AS is_snapshot, 'customers' AS src_table,
        |  false AS has_before, true AS has_after, 3 AS field_count,
        |  lower(c_mktsegment) || '.example.com' AS email_domain,
        |  true AS has_email,
        |  CAST(length(regexp_replace(lower(c_name), '[^a-z0-9]+', '.', 'g')
        |       || '@' || lower(c_mktsegment) || '.example.com') AS INT) AS email_length
        |FROM customer
        |ORDER BY id""".stripMargin
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cdc_dsv2_scan" -> (qCdcDsv2Scan _),
    "q_cdc_dsv2_tail" -> (qCdcDsv2Tail _),
    "q_cdc_schema_drift" -> (qCdcSchemaDrift _),
    "q_cdc_multi_table" -> (qCdcMultiTable _),
    "q_cdc_enrich" -> (qCdcEnrich _),
    "q_cdc_latest_state" -> (qCdcLatestState _),
    "q_cdc_scd2" -> (qCdcScd2 _),
    "q_cdc_scd2_incremental" -> (qCdcScd2Incremental _),
    "q_cdc_incremental_agg" -> (qCdcIncrementalAgg _),
    "q_cdc_join_view" -> (qCdcJoinView _),
    "q_cdc_agg_view" -> (qCdcAggView _),
    "q_cdc_view_changefeed" -> (qCdcViewChangefeed _),
    "q_cdc_feed_apply" -> (qCdcFeedApply _),
    "q_cdc_feed_cascade" -> (qCdcFeedCascade _),
    "q_cdc_feed_cascade_minmax" -> (qCdcFeedCascadeMinmax _),
    "q_cdc_feed_consumer" -> (qCdcFeedConsumer _),
    "q_cdc_feed_reseed" -> (qCdcFeedReseed _),
    "q_cdc_feed_chain" -> (qCdcFeedChain _),
    "q_cdc_feed_consumer_stats" -> (qCdcFeedConsumerStats _),
    "q_cdc_stream_cascade" -> (qCdcStreamCascade _),
    "q_cdc_state_asof" -> (qCdcStateAsof _),
    "q_cdc_stream_ivm" -> (qCdcStreamIvm _),
    "q_cdc_stream_changefeed" -> (qCdcStreamChangefeed _),
    "q_cdc_txn_ivm" -> (qCdcTxnIvm _),
    "q_cdc_bitemporal" -> (qCdcBitemporal _),
    "q_cdc_fk_view" -> (qCdcFkView _),
    "q_cdc_fk_agg_view" -> (qCdcFkAggView _),
    "q_cdc_fk_stream_ivm" -> (qCdcFkStreamIvm _),
    "q_cdc_mv_rewrite" -> (qCdcMvRewrite _),
    "q_cdc_mv_rollup" -> (qCdcMvRollup _),
    "q_cdc_mv_having" -> (qCdcMvHaving _),
    "q_cdc_mv_multi" -> (qCdcMvMulti _),
    "q_cdc_mv_fresh" -> (qCdcMvFresh _),
    "q_cdc_mv_fresh_multi" -> (qCdcMvFreshMulti _),
    "q_cdc_mv_choice" -> (qCdcMvChoice _),
    "q_cdc_mv_stats" -> (qCdcMvStats _),
    "q_cdc_mv_ivm" -> (qCdcMvIvm _),
    "q_cdc_mv_minmax_ivm" -> (qCdcMvMinmaxIvm _),
    "q_cdc_mv_fk_ivm" -> (qCdcMvFkIvm _),
    "q_cdc_mv_stream_ivm" -> (qCdcMvStreamIvm _),
    "q_cdc_view_drift" -> (qCdcViewDrift _),
    "q_cdc_txn_consistent" -> (qCdcTxnConsistent _),
    "q_cdc_txn_stream" -> (qCdcTxnStream _),
    "q_cdc_txn_evict" -> (qCdcTxnEvict _),
    "q_cdc_log_compaction" -> (qCdcLogCompaction _),
    "q_cdc_table_checksum" -> (qCdcTableChecksum _),
    "q_cdc_point_in_time" -> (qCdcPointInTime _)
  )
}
