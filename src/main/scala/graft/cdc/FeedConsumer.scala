package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{RankOne, ViewDelta}
import graft.streaming.Drive

/** A DECOUPLED change-feed consumer: a second, separately-checkpointed
  * streaming query that TAILS the feed generations a producer publishes
  * (the `feed` kind of a [[VersionedState]] store) and maintains its own
  * downstream aggregate from them — the topology that makes a change
  * feed a TOPIC rather than a subroutine. The reference's architecture
  * is exactly this split: the enriched topic is tailed by an independent
  * subscriber process (the reference's `docs/architecture.md:54-63`,
  * verified by a separate consumer in its `scripts/verify.sh:404-412`);
  * everything the producer knows reaches the consumer through the
  * published parquet alone.
  *
  * One tail, two folds. The tail — the file stream, the applied-version
  * frontier, the retention-gap check, the fresh-row filter and the
  * `applied` publish — is written once here; each aggregate is only its
  * fold over the batch's fresh rows:
  *
  *  - [[rollup]]: count/sum via [[ViewDelta.cascadeAgg]], with an
  *    optional RELAY feed and an optional reseed source;
  *  - [[minMax]]: count/sum plus min/max over one value column — the
  *    aggregate algebra's NON-self-maintainable half. A signed fold
  *    cannot retract a maximum, and the recompute source the threat
  *    path needs lives on the producer's side of the wire, so the
  *    consumer maintains its OWN upstream REPLICA (`up`) from the same
  *    feed ([[ViewDelta.applyDelta]]), writes it first and reads the
  *    just-written parquet back as [[ViewDelta.cascadeAggStats]]'s
  *    recompute source. The replica is view-sized (group cardinality),
  *    never base-sized — the price any downstream index/cache pays.
  *
  * Independence properties (each spec-pinned in `FeedConsumerSpec`, for
  * both folds):
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
  *    frontier-gap check throws; with one (rollup only), the consumer
  *    RE-SEEDS: it re-derives its rollup from the producer's latest
  *    published VIEW snapshot (one O(|view|) aggregate — the honest
  *    re-bootstrap cost), advances its frontier to the snapshot's
  *    version, and applies only feed generations beyond it — Debezium's
  *    own re-snapshot (`op='r'`, SURVEY §2 S2) lifted to the feed layer.
  *    (A legitimately EMPTY generation is indistinguishable from a swept
  *    one at the row level — this producer's per-batch feeds are never
  *    empty; a RELAY stage that can produce empty generations stamps an
  *    in-band watermark row instead.)
  *  - SWEPT FILES READ AS ABSENT: the file source lists a missing input
  *    path as empty, with a `HadoopFSUtils` WARN ("…was not found. Was it
  *    deleted very recently?"). On restart, Spark re-plans the last
  *    COMMITTED batch (`getBatch`) before running the next one; when the
  *    producer's prune has swept a version that batch listed, the WARN
  *    fires there, and that frame is never executed — benign, and what
  *    `q_cdc_feed_reseed` logs. An UN-committed batch that listed a swept
  *    version does re-execute, over what is left: its swept generation
  *    reads as absent, so it would republish a LOWER frontier than its
  *    first run did; it fails before publishing anything instead
  *    (spec-pinned).
  *  - CONTIGUOUS multi-generation catch-up: signed folds compose across
  *    consecutive feeds (a group's −old₁+new₁−old₂+new₂ telescopes), so
  *    one micro-batch carrying generations N+1..N+k applies in one fold;
  *    the replica collapses each key to its LAST image first.
  *  - RELAY (`publishFeed = true`): the rollup publishes ITS OWN
  *    per-batch change feed — `ViewDelta.diffTouched` of its rollup
  *    across the batch, O(touched) — under its own store's `feed` kind,
  *    version-stamped by the CONSUMER's batch id, so a further consumer
  *    can tail it: maintained aggregates compose down a feed CHAIN (the
  *    DBSP/Materialize dataflow claim, decoupled). Every relayed
  *    generation carries ONE in-band WATERMARK row (`op = 'w'`, null
  *    images): a producer-replay no-op batch yields an empty diff, and
  *    without the watermark its generation would never register
  *    downstream — the next real one would then trip the gap check.
  *    Watermark rows advance the frontier and reach no fold.
  *
  * State layout (the consumer's OWN [[VersionedState]], versioned by
  * the CONSUMER's batch ids, each version committed by its manifest
  * after all of its kinds are written): `applied` — one row holding the
  * upstream-version frontier and a provenance marker (`via` = 'feed' |
  * 'reseed') — and `down`, plus the fold's own kinds (rollup: the relay
  * `feed`; min/max: the replica `up`, which its `down` reads back); all
  * reads are bounded (`readLatestBefore(cid)`), so a
  * consumer-side checkpoint replay folds into its pre-batch state and
  * republishes byte-identically. (A replayed RESEED batch re-reads the
  * producer's then-latest snapshot: value-correct and convergent, which
  * is all at-least-once promises.)
  *
  * Scale shape: per consumer batch, one O(|feed|) signed fold + one
  * group-keyed merge into the group-sized downstream view (min/max adds
  * the O(|view|+|feed|) replica upsert and a recompute scoped to
  * threatened groups); the upstream-version scan is a `distinct()`
  * collected to the driver — bounded by the generations a trigger can
  * carry, never by data volume. Nothing here reads the producer's base
  * tables or its upstream view (the reseed reads its published view
  * SNAPSHOT): deltas in, rollup out, the dataflow-topic contract.
  */
final class FeedConsumer private (
    spark: SparkSession,
    feedGlob: String,
    feedSchema: String,
    store: String,
    checkpoint: String,
    reseed: Option[() => (Long, DataFrame)],
    fold: FeedConsumer.Fold) {

  /** The consumer's own versioned state — readable by the gate after
    * the stream stops, prunable like any maintained store.
    */
  val state = new VersionedState(spark, store)

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
        // bounded read: a replayed consumer batch folds into the state
        // BEFORE its own publish (see VersionedState)
        val applied = state.readLatestBefore("applied", cid)
          .map(_.head().getLong(0)).getOrElse(-1L)
        // distinct upstream versions this trigger carried: a
        // constant-size driver boundary, never data-sized
        val versions = FeedConsumer.feedVersions(b, cid)
        // resolve the frontier: a retention gap either re-seeds from
        // the configured snapshot source or fails loudly
        val (snapshot, frontier0) =
          FeedConsumer.gap(applied, versions) match {
            case Some(missing) => reseed match {
              case Some(snap) =>
                val (sv, rows) = snap()
                (Some(rows), sv)
              case None => throw new IllegalStateException(
                s"feed retention outran this consumer: upstream " +
                  s"generation(s) ${missing.mkString(", ")} were swept " +
                  s"before it saw them (applied frontier $applied, " +
                  s"incoming ${versions.mkString(", ")}); configure a " +
                  "reseed snapshot source to recover, or re-seed the " +
                  "consumer from a fresh bootstrap feed")
            }
            case None => (None, applied)
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
        val fresh = b.filter(col("feed_version") > lit(frontier0))
          .filter(col("op") =!= FeedConsumer.WatermarkOp)
        val frontier = beyond.maxOption.getOrElse(frontier0)
        // a replay whose generations were swept since its first run
        // would regress the frontier it already published
        state.publishedAt("applied", cid).map(_.head().getLong(0))
          .filter(_ > frontier).foreach(was => throw new IllegalStateException(
            s"feed retention outran this consumer: replayed batch $cid " +
              s"would publish applied frontier $frontier below its first " +
              s"run's $was (its feed generations were swept since)"))
        val s2 = spark
        import s2.implicits._
        Drive.Kinds("applied" ->
          Seq((frontier, if (snapshot.isEmpty) "feed" else "reseed"))
            .toDF("upstream_version", "via")) +: fold(batch, fresh, snapshot)
      }), checkpoint)
}

object FeedConsumer {

  /** One aggregate's fold over a batch's fresh feed rows (and, after a
    * reseed, the snapshot it re-bases on): the stages it publishes,
    * `down` among them.
    */
  private type Fold =
    (Drive.Batch, DataFrame, Option[DataFrame]) => Seq[Drive.Stage]

  /** The count/sum rollup consumer: `down` holds `(groupName, n_rows,
    * sum_<v>…)` of the feed's images grouped by `groupOf`. `reseed`
    * yields the producer's latest view snapshot and its version;
    * `publishFeed` relays the rollup's own change feed.
    */
  def rollup(spark: SparkSession, feedGlob: String, feedSchema: String,
      store: String, checkpoint: String, groupOf: Column,
      groupName: String, valueCols: Seq[String],
      reseed: Option[() => (Long, DataFrame)] = None,
      publishFeed: Boolean = false): FeedConsumer =
    new FeedConsumer(spark, feedGlob, feedSchema, store, checkpoint,
      reseed, (batch, fresh, snapshot) => {
        val prev = batch.before("down")
        // the reseed rebase: the rollup recomputed from the snapshot —
        // the one legitimately O(|view|) step
        val rebase = snapshot.map(_.groupBy(groupOf.as(groupName))
          .agg(count(lit(1)).as("n_rows"),
            valueCols.map(v => sum(col(v)).as(s"sum_$v")): _*))
        val down = rollupFold(rebase.orElse(prev), fresh, groupOf,
          groupName, valueCols)
        val relay =
          if (!publishFeed) Nil
          else {
            val was = prev.getOrElse(
              emptyDown(fresh, groupOf, groupName, valueCols))
            val statCols = "n_rows" +: valueCols.map(v => s"sum_$v")
            // after a reseed the diff runs against what downstream
            // actually saw (`was`), not the rebase; on the incremental
            // path the touched set bounds it to O(touched)
            val f =
              if (snapshot.isDefined)
                ViewDelta.diff(was, down, Seq(groupName), statCols)
              else
                ViewDelta.diffTouched(was, down,
                  fresh.select(groupOf.as(groupName)).distinct(),
                  Seq(groupName), statCols)
            Seq("feed" -> f.unionByName(watermarkRow(f))
              .withColumn("feed_version", lit(batch.id)))
          }
        Seq(Drive.Kinds(relay :+ ("down" -> down): _*))
      })

  /** The min/max consumer: `down` holds the rollup's columns plus
    * `(mn, mx)` of `extremumCol`, and `up` the upstream replica keyed by
    * `upstreamKeys`. It has no reseed source: its replica could not be
    * re-based from a rollup snapshot.
    */
  def minMax(spark: SparkSession, feedGlob: String, feedSchema: String,
      store: String, checkpoint: String, upstreamKeys: Seq[String],
      groupOf: Column, groupName: String, valueCols: Seq[String],
      extremumCol: String): FeedConsumer =
    new FeedConsumer(spark, feedGlob, feedSchema, store, checkpoint,
      None, (batch, fresh, _) => {
        val up = batch.before("up").getOrElse(
          fresh.select(upstreamKeys.map(col) ++
              valueCols.map(v => col(s"new_$v").as(v)): _*)
            .filter(lit(false)))
        val down = batch.before("down").getOrElse(emptyDown(fresh,
          groupOf, groupName, valueCols, Some(extremumCol)))
        // applyDelta's contract is ONE generation (every key at most
        // once); a catch-up batch can mention a key in several feeds,
        // so collapse to each key's LAST image first — intermediate
        // images telescope away for a replace-by-key apply
        // (cascadeAggStats keeps the FULL rows: its signed fold needs
        // every generation's images). (key, feed_version) is unique.
        val latest = RankOne(fresh, upstreamKeys, col("feed_version").desc)
        // replica first, then read the parquet back as the threat
        // path's recompute source (one materialized pass)
        Seq(Drive.Kinds("up" ->
            ViewDelta.applyDelta(up, latest, upstreamKeys, valueCols)),
          Drive.After("down", () => ViewDelta.cascadeAggStats(down, fresh,
            batch.published("up"), groupOf, groupName, valueCols,
            extremumCol)))
      })

  /** The rollup's fold: `feed` folded into the previous `down` (or into
    * an empty one) — shared with the producer's in-loop cascade.
    */
  private[graft] def rollupFold(prev: Option[DataFrame], feed: DataFrame,
      groupOf: Column, groupName: String,
      valueCols: Seq[String]): DataFrame =
    ViewDelta.cascadeAgg(
      prev.getOrElse(emptyDown(feed, groupOf, groupName, valueCols)),
      feed, groupOf, groupName, valueCols)

  /** An empty `down` frame in the fold's exact schema, typed from the
    * feed `like`: `(groupName, n_rows, sum_<v>…)`, plus `(mn, mx)` of
    * `extremumCol` when given.
    */
  private def emptyDown(like: DataFrame, groupOf: Column,
      groupName: String, valueCols: Seq[String],
      extremumCol: Option[String] = None): DataFrame =
    like.select(groupOf.as(groupName) +: lit(0L).as("n_rows") +:
        (valueCols.map(v => lit(0L).as(s"sum_$v")) ++
          extremumCol.toSeq.flatMap(e =>
            Seq(col(s"new_$e").as("mn"), col(s"new_$e").as("mx")))): _*)
      .filter(lit(false))

  /** The in-band watermark op a RELAY stage stamps on every generation
    * it publishes (one row, null key and images): generation numbers
    * must register downstream even when the diff is empty, or the gap
    * check could not tell an empty generation from a swept one.
    */
  val WatermarkOp = "w"

  /** One all-null row in `like`'s schema with `op = 'w'` — unioned onto
    * every relayed feed generation (see [[WatermarkOp]]).
    */
  private def watermarkRow(like: DataFrame): DataFrame =
    like.limit(0).unionByName(
      like.sparkSession.range(1).select(like.columns.map(c =>
        if (c == "op") lit(WatermarkOp).as("op")
        else lit(null).cast(like.schema(c).dataType).as(c)).toSeq: _*))

  /** The distinct `feed_version`s of consumer batch `batchId`, sorted —
    * one `collect`. Every feed row names the producer generation that
    * wrote it; a null would otherwise surface as a bare NPE here, or be
    * dropped silently by the `feed_version > applied` filter and skipped
    * by `max_by`, so it fails loudly instead.
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
  private def gap(applied: Long, versions: Seq[Long])
      : Option[Seq[Long]] = {
    val fresh = versions.filter(_ > applied)
    if (fresh.isEmpty) None
    else Some(((applied + 1) to fresh.max).filterNot(fresh.contains))
      .filter(_.nonEmpty)
  }
}
