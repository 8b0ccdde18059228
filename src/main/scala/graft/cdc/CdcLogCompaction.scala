package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Materialize.Ops
import graft.operators.RankOne

/** Log compaction for a `graft-cdc` JSON-lines change log — the broker-side
  * retention policy the reference relies on for long-lived CDC topics
  * (Kafka `cleanup.policy=compact`: the broker keeps, per key, only the
  * latest record, and drops a key entirely once its latest record is a
  * tombstone). A file-transport log has the same unbounded-growth problem
  * and the same fix: periodically rewrite the log to its per-key frontier.
  * Consumers that only need current state (latest-state / SCD1
  * materialization, snapshot bootstrap of a new consumer) read the
  * compacted log and get byte-identical results at a fraction of the scan.
  *
  * Semantics:
  *   - winner per (source schema, source table, key) = the first line
  *     under `(source.lsn DESC NULLS LAST, line DESC)`: ties (a replayed
  *     envelope) break on the raw line, so the rewrite is deterministic
  *     under at-least-once duplication.
  *   - a winning tombstone (`op='d'`) removes the key from the compacted
  *     log entirely unless `retainTombstones=true` (Kafka's
  *     `delete.retention.ms` window, where consumers mid-bootstrap still
  *     need to see the delete).
  *   - survivors are the ORIGINAL raw lines, byte-for-byte (P18: the log
  *     may interleave foreign/invalid payloads; compaction must never
  *     re-serialize). Lines with no extractable key or op (corrupt JSON,
  *     foreign shapes) are not compactable and pass through verbatim.
  *   - a key-bearing, op-bearing envelope whose `source.lsn` is null or
  *     missing ranks last: it loses to ANY positioned record for the
  *     same key (a record with no position makes the weakest possible
  *     claim), and among only-null-lsn records for a key the raw-line
  *     tiebreak picks one deterministic winner — so stale unpositioned
  *     duplicates are actually removed instead of accumulating as
  *     permanent passthrough.
  *
  * Output layout: `0000000000_compacted_<i>.jsonl` — sorts
  * lexicographically BEFORE any collector-written log roll (zero-padded
  * counters), so the compacted directory remains a valid `graft-cdc`
  * batch source AND a valid tail base: a restarted collector appends new
  * rolls after the compacted prefix. Publish is write-to-temp +
  * verified-rename per file (a silently failed Hadoop rename must never
  * destroy the only copy of the frontier).
  *
  * Scale shape: one hash shuffle on (schema, table, key) for the frontier
  * argmax — the irreducible cost of per-key latest — and the argmax is a
  * [[graft.operators.RankOne]] fold, so the exchange carries one
  * candidate per key per map partition, never every log line, and no
  * window sort runs; then a narrow write. Nothing driver-side,
  * nothing broadcast; a skewed hot key costs one aggregate group (already
  * map-side-combined), not a collect.
  */
object CdcLogCompaction {

  /** Compaction result facts (driver-visible, O(1)). */
  final case class Stats(kept: Long, superseded: Long, tombstonedKeys: Long,
      passthrough: Long)

  /** Rewrite the log at `inDir` into a fresh `outDir` (must not exist).
    * `keyField` is the payload's primary-key field name inside
    * `after`/`before` (the reference's `customers.id`).
    *
    * `nullLsnTsMsFallback` (round-7 advisory): ranking null-lsn records
    * last silently drops an UNPOSITIONED record that is in fact the
    * newest state for its key — the right call for replay debris, the
    * wrong one for connectors that legitimately omit `lsn` on some live
    * events. Opting in ranks on `coalesce(lsn, ts_ms)` instead: a
    * null-lsn record at its envelope `ts_ms`, an explicitly HEURISTIC
    * position (lsn units are connector-specific and need not be
    * millisecond-commensurable — which is why this is an opt-in escape
    * hatch, not the default, and why the gate keeps the default).
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      keyField: String = "id", retainTombstones: Boolean = false,
      parts: Int = 8, nullLsnTsMsFallback: Boolean = false): Stats = {
    val hconf = spark.sessionState.newHadoopConf()
    val out = new Path(outDir)
    val fs = out.getFileSystem(hconf)
    require(!fs.exists(out),
      s"CdcLogCompaction: output $outDir already exists — compaction " +
        "publishes a fresh directory; swap or remove the old one explicitly")

    val lines = spark.read.text(inDir)
    // key identity straight off the raw line: one JSON probe per field,
    // no typed payload DDL needed (schema-on-read, like the enrich path).
    // Deletes carry the key in `before`, everything else in `after`.
    val keyed = lines.select(
      col("value"),
      get_json_object(col("value"), "$.source.schema").as("src_schema"),
      get_json_object(col("value"), "$.source.table").as("src_table"),
      coalesce(
        get_json_object(col("value"), s"$$.after.$keyField"),
        get_json_object(col("value"), s"$$.before.$keyField")).as("key"),
      get_json_object(col("value"), "$.source.lsn").cast("long").as("lsn"),
      get_json_object(col("value"), "$.op").as("op"),
      get_json_object(col("value"), "$.ts_ms").cast("long").as("tsms"))
    val compactable = keyed.filter(col("key").isNotNull && col("op").isNotNull)
    val passthrough = keyed.filter(col("key").isNull || col("op").isNull)
      .select(col("value"), lit("p").as("verdict"))
    val rank =
      if (nullLsnTsMsFallback) coalesce(col("lsn"), col("tsms")) else col("lsn")
    // count(*) − 1 tallies the superseded lines beside the winner
    val winners = compactable
      .groupBy(col("src_schema"), col("src_table"), col("key"))
      .agg(
        RankOne.of(compactable, struct(col("value"), col("op")),
          rank.desc_nulls_last, col("value").desc).as("w"),
        count(lit(1)).as("n"))
    val tombstoned =
      if (retainTombstones) lit(false) else col("w.op") === "d"
    val judged = winners
      .select(col("w.value").as("value"),
        when(tombstoned, "t") // winning tombstone, key drops out
          .otherwise("k").as("verdict"), // kept
        (col("n") - 1L).as("superseded"))
      .unionByName(passthrough.withColumn("superseded", lit(0L)))
      // the stats fold and the survivor write both consume this frame;
      // without materialization the JSON probes + aggregation run twice
      .barrier()
    val tallies = judged.groupBy(col("verdict"))
      .agg(count(lit(1)).as("n"), sum(col("superseded")).as("sup"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val counts = tallies.view.mapValues(_._1).toMap
    val survivors = judged
      .filter(col("verdict").isin("k", "p")).select(col("value"))

    // publish: write to a temp sibling, fix the part names INSIDE the
    // temp tree (monotone, sorting before any log roll), then promote
    // the whole directory with ONE verified rename — so a failure at any
    // point leaves outDir either absent or complete, never a partial
    // frontier a bootstrapping consumer could mistake for the real one
    val tmp = new Path(outDir + ".compact_tmp")
    fs.delete(tmp, true)
    // a periodic-maintenance caller runs this repeatedly: free the
    // judged frame's checkpoint blocks once the write has consumed it
    // (Dataset.unpersist wouldn't — see JdbcIncremental.freeLocalCheckpoint)
    val partFiles =
      try StagedParts.write(survivors.repartition(parts), fs, tmp)
      finally JdbcIncremental.freeLocalCheckpoint(judged)
    partFiles.zipWithIndex.foreach { case (p, i) =>
      val dst = new Path(tmp, f"0000000000_compacted_$i%04d.jsonl")
      if (!fs.rename(p, dst))
        throw new java.io.IOException(
          s"CdcLogCompaction: staging rename $p -> $dst failed; temp " +
            s"output left under $tmp, nothing published")
    }
    // drop the writer's markers so the published dir holds data files only
    fs.listStatus(tmp).map(_.getPath)
      .filter(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .foreach(p => fs.delete(p, true))
    if (!fs.rename(tmp, out))
      throw new java.io.IOException(
        s"CdcLogCompaction: publish rename $tmp -> $out failed; temp " +
          s"output left under $tmp, nothing published")
    Stats(
      kept = counts.getOrElse("k", 0L),
      superseded = tallies.view.values.map(_._2).sum,
      tombstonedKeys = counts.getOrElse("t", 0L),
      passthrough = counts.getOrElse("p", 0L))
  }
}
