package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.Drive

/** A DECOUPLED change-feed consumer: a second, separately-checkpointed
  * streaming query that TAILS the feed generations a producer publishes
  * (the `feed` kind of a [[VersionedState]] store) and maintains its own
  * downstream aggregate from them — the topology that makes a change
  * feed a TOPIC rather than a subroutine. The reference's architecture
  * is exactly this split: the enriched topic is tailed by an independent
  * subscriber process (`/root/reference/docs/architecture.md:54-63`,
  * verified by a separate consumer in `scripts/verify.sh:404-412`);
  * everything the producer knows reaches the consumer through the
  * published parquet alone.
  *
  * Independence properties (each spec-pinned in `FeedConsumerSpec`):
  *
  *  - OWN checkpoint, own lifecycle: the consumer resumes from ITS
  *    file-source checkpoint across restarts, regardless of how many
  *    generations the producer ran in between; a mid-drive kill
  *    (un-committed consumer batch) re-delivers through the same
  *    foreachBatch path and lands byte-identically.
  *  - AT-LEAST-ONCE tolerant: the producer's own checkpoint replay
  *    overwrites a feed generation with identical content but fresh
  *    part-file names, which the file source surfaces as new input; the
  *    consumer filters rows to upstream versions STRICTLY ABOVE its
  *    applied frontier, so replayed generations apply as no-ops.
  *  - RETENTION-AWARE, loudly — with a RECOVERY path: the producer
  *    prunes to `keepLast` generations. A consumer that falls behind
  *    the retention window cannot silently skip the swept generations —
  *    applying feed N+2 on top of state N would silently corrupt every
  *    group N+1 touched. With no `reseed` source configured the
  *    frontier-gap check throws; with one, the consumer RE-SEEDS: it
  *    re-derives its rollup from the producer's latest published VIEW
  *    snapshot (one O(|view|) aggregate — the honest re-bootstrap
  *    cost), advances its frontier to the snapshot's version, and
  *    applies only feed generations beyond it. This is the reference's
  *    own recovery shape lifted one stage: Debezium re-snapshots
  *    (`op='r'`, SURVEY §2 S2) when the WAL a consumer needs is gone,
  *    then streams from the snapshot's position — snapshot-then-tail at
  *    the feed layer. (A legitimately EMPTY generation is
  *    indistinguishable from a swept one at the row level — this
  *    producer's per-batch feeds are never empty; a RELAY stage that
  *    can produce empty generations stamps an in-band watermark row
  *    instead, see `publishFeed` below.)
  *  - CONTIGUOUS multi-generation catch-up: signed folds compose across
  *    consecutive feeds (a group's −old₁+new₁−old₂+new₂ telescopes, as
  *    new₁ = old₂ for images of the same group), so one micro-batch
  *    carrying generations N+1..N+k applies in one
  *    [[graft.operators.ViewDelta.cascadeAgg]] fold.
  *  - RELAY (`publishFeed = true`): the consumer publishes ITS OWN
  *    per-batch change feed — `ViewDelta.diffTouched` of its rollup
  *    across the batch, O(touched) — under its own store's `feed` kind,
  *    version-stamped by the CONSUMER's batch id, so a further consumer
  *    can tail it: maintained aggregates compose down a feed CHAIN,
  *    each stage separately checkpointed, each paying only for the
  *    deltas flowing through it (the DBSP/Materialize dataflow claim,
  *    decoupled). Every relayed generation also carries ONE in-band
  *    WATERMARK row (`op = 'w'`, null images): a producer-replay no-op
  *    batch yields an empty diff, and without the watermark its
  *    generation number would never register downstream — the next real
  *    generation would then trip the gap check as if retention had
  *    outrun the consumer. Watermark rows advance the downstream
  *    frontier and contribute nothing to any fold.
  *
  * State layout (the consumer's OWN [[VersionedState]], anchored on
  * `down`, versioned by the CONSUMER's batch ids): the relay `feed`
  * (when enabled) publishes first, then `applied` — a one-row frame
  * holding the upstream-version frontier and a provenance marker
  * (`via` = 'feed' | 'reseed') — and the anchoring `down` last; all
  * reads are bounded (`readLatestBefore(cid)`), so a consumer-side
  * checkpoint replay folds into its pre-batch state and republishes
  * byte-identically. (A replayed RESEED batch re-reads the producer's
  * then-latest snapshot: if the producer advanced in between, the
  * replay re-bases on the fresher snapshot — not byte-identical, but
  * value-correct and convergent, which is all at-least-once promises.)
  *
  * Scale shape: per consumer batch, one O(|feed|) signed fold + one
  * group-keyed merge into the group-sized downstream view; the
  * upstream-version scan is a `distinct()` over the feed's version
  * column collected to the driver — bounded by the handful of
  * generations a trigger can carry, never by data volume. Nothing here
  * reads the producer's base tables or its upstream view (the reseed
  * path reads the producer's published view SNAPSHOT — still the
  * published store, never the bases): deltas in, rollup out, the
  * dataflow-topic contract.
  */
final class FeedConsumer(
    spark: SparkSession,
    feedGlob: String,
    feedSchema: String,
    store: String,
    checkpoint: String,
    groupOf: Column,
    groupName: String,
    valueCols: Seq[String],
    reseed: Option[() => (Long, DataFrame)] = None,
    publishFeed: Boolean = false) {

  /** The consumer's own versioned state (anchor `down`) — readable by
    * the gate after the stream stops, prunable like any maintained
    * store.
    */
  val state = new VersionedState(spark, store, "down")

  private def emptyDown(like: DataFrame): DataFrame =
    like.select(groupOf.as(groupName) +: lit(0L).as("n_rows") +:
        valueCols.map(v => lit(0L).as(s"sum_$v")): _*)
      .filter(lit(false))

  /** The re-seed rebase: the downstream rollup recomputed from an
    * upstream view snapshot — the one legitimately O(|view|) step, paid
    * only when retention has already outrun the incremental path.
    */
  private def rollup(snapshot: DataFrame): DataFrame =
    snapshot.groupBy(groupOf.as(groupName))
      .agg(count(lit(1)).as("n_rows"),
        valueCols.map(v => sum(col(v)).as(s"sum_$v")): _*)

  /** One AvailableNow drive of the tail: process every feed generation
    * published since the consumer's checkpoint, then stop. Call again
    * after the producer advances — each call is a RESTART that resumes
    * from the consumer's own checkpoint (the gate interleaves these
    * with producer generations; a real deployment would run the same
    * query with a continuous trigger).
    */
  def runOnce(): Unit =
    Drive.await(spark.readStream.schema(feedSchema).parquet(feedGlob)
      .writeStream
      .foreachBatch(Drive.versioned(state, keepLast = Some(2)) { batch =>
        val (b, cid) = (batch.df, batch.id)
        // bounded reads: a replayed consumer batch folds into the
        // state BEFORE its own publish (see VersionedState)
        val applied = FeedConsumer.appliedBefore(state, cid)
        // distinct upstream versions this trigger carried: a
        // constant-size driver boundary (generations per trigger),
        // never data-sized
        val versions = FeedConsumer.feedVersions(b, cid)
        val prev = batch.before("down").getOrElse(emptyDown(b))
        // resolve the frontier: a retention gap either re-seeds from
        // the configured snapshot source or fails loudly
        val (down0, frontier0, via) =
          FeedConsumer.gap(applied, versions) match {
            case Some(missing) => reseed match {
              case Some(snap) =>
                val (sv, rows) = snap()
                (rollup(rows), sv, "reseed")
              case None => throw new IllegalStateException(
                s"feed retention outran this consumer: upstream " +
                  s"generation(s) ${missing.mkString(", ")} were swept " +
                  s"before it saw them (applied frontier $applied, " +
                  s"incoming ${versions.mkString(", ")}); configure a " +
                  "reseed snapshot source to recover, or re-seed the " +
                  "consumer from a fresh bootstrap feed")
            }
            case None => (prev, applied, "feed")
          }
        // defensive: the snapshot must close the gap it re-seeded
        // over (contiguous producer batch ids make this unreachable,
        // but silently folding across a second gap would corrupt)
        val beyond = versions.filter(_ > frontier0)
        FeedConsumer.gap(frontier0, beyond).foreach(m =>
          throw new IllegalStateException(
            s"feed retention gap survived the reseed snapshot " +
              s"(frontier $frontier0, still missing ${m.mkString(", ")})"))
        // producer replays (and any already-applied generation) drop
        // out here — the at-least-once idempotence rail; watermark
        // rows advance the frontier but never reach a fold
        val freshRows = b.filter(col("feed_version") > lit(frontier0))
          .filter(col("op") =!= FeedConsumer.WatermarkOp)
        val down2 = graft.operators.ViewDelta.cascadeAgg(
          down0, freshRows, groupOf, groupName, valueCols)
        val frontier = if (beyond.nonEmpty) beyond.max else frontier0
        val s2 = spark
        import s2.implicits._
        // non-anchor first, anchor last: a crash between publishes
        // leaves the previous (feed, applied, down) triple current
        val feed =
          if (!publishFeed) Nil
          else {
            val statCols = "n_rows" +: valueCols.map(v => s"sum_$v")
            // after a reseed `down0` is the rebase, not the published
            // state — diff vs what downstream actually saw (`prev`);
            // on the incremental path both are the same frame and the
            // touched set bounds the diff to O(touched)
            val f =
              if (via == "reseed")
                graft.operators.ViewDelta.diff(prev, down2,
                  Seq(groupName), statCols)
              else
                graft.operators.ViewDelta.diffTouched(prev, down2,
                  freshRows.select(groupOf.as(groupName)).distinct(),
                  Seq(groupName), statCols)
            Seq(Drive.Kinds("feed" ->
              f.unionByName(FeedConsumer.watermarkRow(f))
                .withColumn("feed_version", lit(cid))))
          }
        feed ++ Seq(
          Drive.Kinds("applied" ->
            Seq((frontier, via)).toDF("upstream_version", "via")),
          Drive.Kinds("down" -> down2))
      }), checkpoint)
}

object FeedConsumer {

  /** The in-band watermark op a RELAY stage stamps on every generation
    * it publishes (one row, null key and images): generation numbers
    * must register downstream even when the diff is empty, or the gap
    * check could not tell an empty generation from a swept one.
    */
  val WatermarkOp = "w"

  /** One all-null row in `like`'s schema with `op = 'w'` — unioned onto
    * every relayed feed generation (see [[WatermarkOp]]).
    */
  private[cdc] def watermarkRow(like: DataFrame): DataFrame =
    like.limit(0).unionByName(
      like.sparkSession.range(1).select(like.columns.map(c =>
        if (c == "op") lit(WatermarkOp).as("op")
        else lit(null).cast(like.schema(c).dataType).as(c)).toSeq: _*))

  /** The consumer's applied upstream-version frontier as of (strictly
    * before) batch `cid`; −1 before the first publish.
    */
  private[cdc] def appliedBefore(state: VersionedState, cid: Long): Long =
    state.readLatestBefore("applied", cid)
      .map(_.head().getLong(0)).getOrElse(-1L)

  /** The distinct `feed_version`s of consumer batch `batchId`, sorted —
    * the same one `collect` the consumers always made. Every feed row
    * names the producer generation that wrote it; a null would otherwise
    * surface as a bare NPE here, or be dropped silently by the
    * `feed_version > applied` filter and skipped by `max_by`, so it fails
    * loudly instead.
    */
  private[graft] def feedVersions(batch: DataFrame, batchId: Long): Seq[Long] = {
    val rows = batch.select(col("feed_version")).distinct().collect()
    if (rows.exists(_.isNullAt(0)))
      throw new IllegalStateException(
        s"feed consumer batch $batchId carries a null feed_version: every " +
          "feed row must name the producer generation that published it " +
          "(invariant: feed_version is non-null)")
    rows.map(_.getLong(0)).sorted.toSeq
  }

  /** The retention-gap test: Some(missing) iff the batch carries a
    * version above `applied` while some generation in between is
    * absent — the swept-feed signature. None when there is nothing
    * fresh or the fresh set is contiguous from `applied + 1`.
    */
  private[cdc] def gap(applied: Long, versions: Seq[Long])
      : Option[Seq[Long]] = {
    val fresh = versions.filter(_ > applied)
    if (fresh.isEmpty) None
    else Some(((applied + 1) to fresh.max).filterNot(fresh.contains))
      .filter(_.nonEmpty)
  }
}
