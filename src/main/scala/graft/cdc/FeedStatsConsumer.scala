package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.Drive

/** The DECOUPLED consumer for the aggregate algebra's
  * NON-self-maintainable half: a separately-checkpointed streaming
  * query that tails a producer's published change feed and maintains a
  * downstream rollup WITH min/max — without ever reading the producer's
  * view or base tables, which is exactly what makes extrema hard: a
  * signed fold cannot retract a maximum, and the recompute source the
  * threat path needs ([[graft.operators.ViewDelta.cascadeAggStats]]'s
  * `upstream`) lives on the producer's side of the wire.
  *
  * The consumer closes that gap by maintaining its OWN upstream
  * REPLICA from the same feed ([[graft.operators.ViewDelta.applyDelta]]
  * — the at-least-once-idempotent upsert the CDF consumer contract
  * promises), publishing the replica FIRST each batch and reading the
  * just-published parquet back as the recompute source (one
  * materialized pass, the same read-your-own-publish discipline the
  * in-loop cascade uses). Everything the consumer knows still arrives
  * through the published feed files alone:
  *
  *   feed → applyDelta → replica (`up`)            O(|view|+|feed|)/batch
  *   feed + replica → cascadeAggStats → `down`     O(|feed| + threatened
  *                                                   groups' replica rows)
  *
  * count/sum stay on the O(|feed|) algebraic path; only groups whose
  * retracted image sits at or beyond their maintained (mn, mx) boundary
  * re-aggregate, semi-join-scoped to the replica. The replica is
  * view-sized (group cardinality), never base-sized — the price of
  * decoupled extrema is one view copy per consumer, which is the same
  * price ANY downstream index/cache pays (`q_cdc_feed_apply`'s
  * contract), not a scale regression.
  *
  * Frontier semantics (applied-version dedup of at-least-once
  * re-deliveries, contiguity gap check failing loudly, bounded
  * `readLatestBefore` reads, non-anchor-first/anchor-last publish
  * order, keepLast=2 live retention) are [[FeedConsumer]]'s, shared
  * through its companion helpers; mid-drive kill + byte-identical
  * re-delivery is pinned in `FeedConsumerSpec`, the value in
  * `q_cdc_feed_consumer_stats`'s hash gate.
  */
final class FeedStatsConsumer(
    spark: SparkSession,
    feedGlob: String,
    feedSchema: String,
    store: String,
    checkpoint: String,
    upstreamKeys: Seq[String],
    groupOf: Column,
    groupName: String,
    valueCols: Seq[String],
    extremumCol: String) {

  /** The consumer's own versioned state: the anchoring rollup `down`,
    * the upstream replica `up`, and the `applied` frontier.
    */
  val state = new VersionedState(spark, store, "down")

  private def emptyUp(like: DataFrame): DataFrame =
    like.select(upstreamKeys.map(col) ++
        valueCols.map(v => col(s"new_$v").as(v)): _*)
      .filter(lit(false))

  private def emptyDown(like: DataFrame): DataFrame =
    like.select(groupOf.as(groupName) +: lit(0L).as("n_rows") +:
        (valueCols.map(v => lit(0L).as(s"sum_$v")) ++
          Seq(col(s"new_$extremumCol").as("mn"),
            col(s"new_$extremumCol").as("mx"))): _*)
      .filter(lit(false))

  /** One AvailableNow drive of the tail — see
    * [[FeedConsumer.runOnce]]; each call restarts from this consumer's
    * own checkpoint.
    */
  def runOnce(): Unit =
    Drive.await(spark.readStream.schema(feedSchema).parquet(feedGlob)
      .writeStream
      .foreachBatch(Drive.versioned(state, keepLast = Some(2)) { batch =>
        val (b, cid) = (batch.df, batch.id)
        val applied = FeedConsumer.appliedBefore(state, cid)
        val versions = FeedConsumer.feedVersions(b, cid)
        FeedConsumer.gap(applied, versions).foreach(missing =>
          throw new IllegalStateException(
            s"feed retention outran this consumer: upstream " +
              s"generation(s) ${missing.mkString(", ")} were swept " +
              s"before it saw them (applied frontier $applied, " +
              s"incoming ${versions.mkString(", ")})"))
        val freshRows = b.filter(col("feed_version") > lit(applied))
          .filter(col("op") =!= FeedConsumer.WatermarkOp)
        val up0 = batch.before("up").getOrElse(emptyUp(b))
        val down0 = batch.before("down").getOrElse(emptyDown(b))
        // applyDelta's contract is ONE generation (every key at most
        // once); a multi-generation catch-up batch can mention a key
        // in several feeds, so collapse to each key's LAST image
        // first — intermediate images telescope away for a replace-
        // by-key apply. (cascadeAggStats below keeps the FULL rows:
        // its signed fold needs every generation's images and
        // telescopes on its own.) The collapse is a max_by ARGMAX on
        // feed_version (optimization guide §2.3), not a row_number
        // window: it partial-aggregates map-side and skips the sort.
        // Deterministic because (key, feed_version) is unique — one
        // image per key per generation — and never null (feedVersions
        // above fails the batch on a null, which max_by would skip), so
        // ties cannot occur; the original column order is preserved on
        // the way out.
        val nonKey = freshRows.columns.filterNot(upstreamKeys.contains)
        val latest = freshRows
          .groupBy(upstreamKeys.map(col): _*)
          .agg(max_by(struct(nonKey.map(col): _*), col("feed_version"))
            .as("__top"))
          .select(freshRows.columns.map(c =>
            if (upstreamKeys.contains(c)) col(c)
            else col(s"__top.$c").as(c)).toSeq: _*)
        val frontier =
          versions.filter(_ > applied).maxOption.getOrElse(applied)
        val s2 = spark
        import s2.implicits._
        // replica first, then read the parquet back as the threat
        // path's recompute source (one materialized pass)
        Seq(
          Drive.Kinds("up" -> graft.operators.ViewDelta
            .applyDelta(up0, latest, upstreamKeys, valueCols)),
          Drive.Kinds("applied" ->
            Seq((frontier, "feed")).toDF("upstream_version", "via")),
          Drive.After("down", () => graft.operators.ViewDelta
            .cascadeAggStats(down0, freshRows, batch.published("up"),
              groupOf, groupName, valueCols, extremumCol)))
      }), checkpoint)
}
