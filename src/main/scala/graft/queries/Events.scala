package graft.queries

import graft.Tables
import graft.operators.RankOne
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.Ops

/** Event-stream analytics over the `events` table — the batch twins of the
  * Structured Streaming operators (same expressions stream unchanged with
  * `readStream` + watermark; see `graft.streaming` specs).
  *
  * Scale notes: time-window aggregates shuffle once on (window, keys) with
  * map-side partials; sessionization shuffles once on user_id (Spark's
  * `session_window` does exactly this merge-on-overlap within partition);
  * the as-of join is the carry-forward window formulation — one shuffle by
  * user, no range-join explosion.
  */
object Events extends graft.GateFamily {

  private def events(s: SparkSession, d: String): DataFrame = Tables.events(s, d)
  private val MoneyVal: Column = col("value").cast(Tables.Money)

  /** Tumbling 1-day windows per event type. */
  def qEventsTumbling(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(MoneyVal).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Sliding windows: 1-day length, 6-hour slide (each event in 4 windows). */
  def qEventsSliding(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 day", "6 hours").as("w"))
      .agg(count(lit(1)).as("n_events"), sum(MoneyVal).as("sum_value"))
      .select(col("w.start").as("window_start"), col("n_events"), col("sum_value"))
      .orderBy(col("window_start"))

  /** Sessionization: 30-minute-gap sessions per user via `session_window`
    * (identical semantics in streaming mode; end = last event + gap).
    */
  def qEventsSession(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(MoneyVal).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** As-of join: each purchase matched to the user's most recent STRICTLY
    * earlier click, via [[graft.operators.AsOfJoin]] (carry-forward window
    * — one shuffle by user, no per-row range probe). The operator's
    * equal-timestamp exclusion matches the oracle's `c.ts < p.ts` exactly;
    * an in-line lag formulation ordered by (ts, event_id) would wrongly
    * match a click at the identical timestamp.
    */
  def qEventsAsof(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    graft.operators.AsOfJoin.lastBefore(
        purchases, clicks, "user_id", "ts", "ts",
        rightCols = Seq("event_id", "ts"), rightTiebreak = Some("event_id"))
      .select(
        col("event_id").as("purchase_id"), col("user_id"),
        col("asof_event_id").as("prev_click_id"),
        floor((unix_micros(col("ts")) - unix_micros(col("asof_ts"))) / 1000000L)
          .cast("long").as("gap_seconds"))
      .orderBy(col("purchase_id"))
  }

  /** Three-stage funnel, first-touch semantics: per user the earliest
    * click, the earliest view strictly after it, the earliest purchase
    * strictly after that. Each stage is one aggregate + one equi-join on
    * user_id — no range-join explosion; stages shrink monotonically.
    */
  def qEventsFunnel(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    def stage(evType: String, prev: DataFrame, prevTs: String, outTs: String) =
      ev.filter(col("event_type") === evType)
        .join(prev, "user_id")
        .filter(col("ts") > col(prevTs))
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as(outTs))
        .join(prev, "user_id")
    val t1 = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val t2 = stage("view", t1, "t_click", "t_view")
    val t3 = stage("purchase", t2, "t_view", "t_purchase")
    t3.select(col("user_id"), col("t_click"), col("t_view"), col("t_purchase"))
      .orderBy(col("user_id"))
  }

  /** Range join via time binning: clicks within the hour BEFORE each
    * purchase (attribution window), expressed as an EQUI join through
    * [[graft.operators.RangeJoin.pointInInterval]] — each side keys on
    * (user_id, hour bucket); a 1-hour interval covers exactly two buckets,
    * and the exact range predicate filters after the hash join. The naive
    * formulation (`ON c.ts BETWEEN p.ts - 1h AND p.ts`) plans as a
    * nested-loop join — quadratic per user at corpus scale; binning keeps
    * it a hash join with O(events) shuffle. Each click has exactly one
    * bucket, so no pair is double-counted.
    */
  def qEventsAttribution(s: SparkSession, d: String): DataFrame = {
    val HourUs = 3600L * 1000000L
    val ev = events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        (unix_micros(col("ts")) - HourUs).as("w_start"),
        unix_micros(col("ts")).as("w_end"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("c_us"))
    graft.operators.RangeJoin.pointInInterval(
        clicks, purchases, "user_id", "c_us", "w_start", "w_end", HourUs)
      .groupBy(col("purchase_id"), col("user_id"))
      .agg(count(lit(1)).as("n_clicks_1h"))
      .orderBy(col("purchase_id"))
  }

  /** Point-in-interval pairing via the generic bucketed range-join operator
    * ([[graft.operators.RangeJoin]]): every (purchase, view) pair of the
    * same user where the view falls in the hour before the purchase — the
    * pair-level counterpart of [[qEventsAttribution]]'s count (which inlines
    * the same hour-bucket trick for its aggregate). gap_seconds > 0 always:
    * the window upper bound is exclusive.
    */
  def qRangeJoin(s: SparkSession, d: String): DataFrame = {
    val HourUs = 3600L * 1000000L
    val ev = events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        (unix_micros(col("ts")) - HourUs).as("w_start"),
        unix_micros(col("ts")).as("w_end"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        unix_micros(col("ts")).as("v_us"))
    graft.operators.RangeJoin.pointInInterval(
        views, purchases, "user_id", "v_us", "w_start", "w_end", HourUs)
      .select(col("purchase_id"), col("view_id"), col("user_id"),
        graft.text.TextOps.idiv(col("w_end") - col("v_us"), lit(1000000L))
          .as("gap_seconds"))
      .orderBy(col("purchase_id"), col("view_id"))
  }

  /** Weekly retention cohorts: users grouped by the ISO week of their first
    * event; for each (cohort week, week offset) the count of distinct users
    * active that week and the retention rate vs the cohort's week-0 size.
    * Scale shape: two user-keyed shuffles (first-event aggregate, then the
    * activity set dedup arrives pre-partitioned into the join), then a tiny
    * cohort×offset aggregate — the window for the week-0 denominator runs
    * over the already-aggregated frame, O(weeks²) rows, not over events.
    */
  def qRetentionCohorts(s: SparkSession, d: String): DataFrame = {
    val weekly = events(s, d)
      .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
    // min(date_trunc) == date_trunc(min): trunc is monotone, so the first
    // event's week comes straight off the per-user aggregate
    val firsts = weekly.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    val active = weekly.distinct()
    val grid = active.join(firsts, "user_id")
      .withColumn("week_offset",
        floor(datediff(col("week"), col("cohort_week")) / 7).cast("long"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    // offset 0 always exists (every cohort member is active in week 0), so
    // the ordered-window first() is the cohort size
    val w = Window.partitionBy(col("cohort_week")).orderBy(col("week_offset"))
    grid
      .withColumn("cohort_size", first(col("n_users")).over(w))
      .select(col("cohort_week"), col("week_offset"), col("n_users"),
        floor(col("n_users") * 10000L / col("cohort_size")).cast("long")
          .as("retention_x10000"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Time-series densification (gap filling): hourly event counts per
    * type with MISSING HOURS materialized as zero rows — the
    * regularization step before any windowed model sees the series.
    * Scale shape: the dense hour spine is generated from each type's
    * (min, max) — a per-type `sequence` explode over a tiny aggregate,
    * never a cross join against a calendar table — then one left join
    * back to the observed aggregate on (type, hour).
    */
  def qGapFill(s: SparkSession, d: String): DataFrame = {
    val hourly = events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"), sum(MoneyVal).as("v"))
    val spine = hourly.groupBy(col("event_type"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"),
          expr("INTERVAL 1 HOUR"))).as("hour"))
    spine.join(hourly, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        coalesce(col("v"), lit(0).cast(Tables.Money)).as("sum_value"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Batch twin of streaming `dropDuplicatesWithinWatermark`: keep the
    * EARLIEST event per (user, type) within each 10-minute bucket —
    * at-least-once sources deliver duplicates and this is the keyed
    * compaction that removes them. Deterministic tie-break on event_id.
    * One shuffle on (bucket, user, type); in streaming mode the same
    * keys + a watermark run through the dedup state store
    * (`StreamingSpec` covers that path).
    */
  def qEventsDedup(s: SparkSession, d: String): DataFrame = {
    val keyed = events(s, d)
      .withColumn("bucket", window(col("ts"), "10 minutes").getField("start"))
      .select("bucket", "user_id", "event_type", "ts", "event_id")
    RankOne(keyed, Seq("bucket", "user_id", "event_type"), col("ts"),
        col("event_id"))
      .select("event_id", "user_id", "event_type", "bucket", "ts")
      .orderBy(col("event_id"))
  }

  /** The funnel pattern, leading-delimiter-anchored only: the char after
    * "purchase" is necessarily ',' or end-of-string (no event type has
    * "purchase" as a prefix), and NOT consuming that trailing comma means
    * back-to-back runs share no matched characters — non-overlapping
    * replace() then counts every consecutive run (a trailing-comma pattern
    * would eat the next run's leading delimiter and undercount).
    */
  private val FunnelPat = ",view,click,purchase"

  /** Sequence-pattern detection (MATCH_RECOGNIZE-lite): per user, the
    * time-ordered event-type sequence and the count of consecutive
    * view→click→purchase runs in it — the "behavioral pattern" pass that
    * complements [[qEventsFunnel]]'s any-gap funnel.
    *
    * Occurrences are counted by delimiter-anchored substring replacement
    * (non-overlapping, left-to-right — both engines implement replace()
    * identically, so the count is engine-exact without a regex engine).
    * Ordering inside the collected list is total: (ts, event_id) with
    * event_id unique, so the sequence string is deterministic under any
    * partitioning.
    *
    * Scale shape: ONE key shuffle with map-side partial collect; the
    * per-user array is bounded by per-user activity (whales would be
    * sessionized first — the session operator exists for exactly that).
    */
  def qEventPatterns(s: SparkSession, d: String): DataFrame = {
    val evs = array_sort(collect_list(
      struct(col("ts"), col("event_id"), col("event_type"))))
    val seq = concat_ws(",",
      transform(col("evs"), e => e.getField("event_type")))
    val anchored = concat(lit(","), col("seq"), lit(","))
    val nPat = ((length(anchored) -
      length(replace(anchored, lit(FunnelPat), lit("")))) /
      FunnelPat.length).cast("long")
    events(s, d)
      .groupBy(col("user_id"))
      .agg(evs.as("evs"))
      .select(col("user_id"), size(col("evs")).cast("long").as("n_events"),
        seq.as("seq"))
      .select(col("user_id"), col("n_events"),
        nPat.as("n_funnel_runs"),
        substring_index(col("seq"), ",", 1).as("first_type"),
        substring_index(col("seq"), ",", -1).as("last_type"))
      .orderBy(col("user_id"))
  }

  /** JSON property extraction + aggregation over the stream-shaped table. */
  def qEventsProps(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        countDistinct(col("k")).as("distinct_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** Semi-structured extraction via Spark 4's VARIANT type: `props` is
    * parsed ONCE into the binary variant encoding and fields come out with
    * `variant_get` typed paths — the modern replacement for repeated
    * `get_json_object` string walks (each of which re-parses the raw JSON;
    * the round-1 CDC hotspot was exactly that anti-pattern). One narrow
    * parse + one grouped aggregate; at 100 TB the parse cost is paid once
    * per row regardless of how many fields are extracted.
    */
  def qVariantExtract(s: SparkSession, d: String): DataFrame =
    events(s, d)
      // try_parse_json: a malformed payload row nulls out, like the
      // get_json_object family — strict parse_json would kill the job
      .select(col("event_type"), try_parse_json(col("props")).as("v"))
      .select(col("event_type"),
        variant_get(col("v"), "$.k", "int").as("k"))
      // % (rem), not pmod: DuckDB's % is rem, so the twins agree even if
      // a future dataset carries negative k
      .groupBy(col("event_type"), (col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"), col("k_mod"))

  /** Bucket width for [[qIntervalOverlap]]: one week in microseconds,
    * near the typical per-(user, type) activity span.
    */
  private val OverlapBucketUs = 7L * 86400 * 1000000

  /** Interval-overlap join: per user, every pair of event types whose
    * activity intervals [first event, last event] overlap in time — the
    * interval × interval join behind session-collision and concurrent-
    * activity analysis, via [[graft.operators.IntervalJoin]] (bucketed
    * equi-join + emit-at-max-start dedup; no key-only quadratic fanout,
    * no distinct over the output). The interval frame is tiny
    * (users × types) and checkpointed once so the self-join does not
    * rescan the event volume.
    */
  def qIntervalOverlap(s: SparkSession, d: String): DataFrame = {
    val iv = events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(unix_micros(col("ts"))).as("s"),
        max(unix_micros(col("ts"))).as("e"))
      .stage()
    val a = iv.select(col("user_id"), col("event_type").as("type_a"),
      col("s").as("a_start"), col("e").as("a_end"))
    val b = iv.select(col("user_id"), col("event_type").as("type_b"),
      col("s").as("b_start"), col("e").as("b_end"))
    graft.operators.IntervalJoin
      .overlap(a, b, "user_id", "a_start", "a_end", "b_start", "b_end",
        OverlapBucketUs)
      .filter(col("type_a") < col("type_b"))
      .select(col("user_id"), col("type_a"), col("type_b"),
        greatest(col("a_start"), col("b_start")).as("overlap_start"),
        least(col("a_end"), col("b_end")).as("overlap_end"))
      .orderBy(col("user_id"), col("type_a"), col("type_b"))
  }

  /** Event-type transition matrix (first-order Markov statistics — the
    * next-event-prediction feature and the input to flow/sankey
    * analyses): for every consecutive pair in each user's timeline, count
    * (from, to) and its share of all transitions leaving `from`, as an
    * exact ×10000 integer. The pair order is fully deterministic
    * ((ts, event_id) total order per user).
    *
    * Scale shape: ONE user-keyed shuffle for the lead window — the
    * information minimum for adjacency — then a map-side-combined
    * aggregate collapses to the O(types²) matrix; the share window runs
    * over that tiny frame, never the event volume.
    */
  def qEventTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    pairs
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("from_total", sum(col("n"))
        .over(Window.partitionBy(col("from_type"))))
      .withColumn("share_x10000", expr("(n * 10000) div from_total"))
      .select(col("from_type"), col("to_type"), col("n"),
        col("share_x10000"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Dwell time per transition: the exact LOWER-median gap (µs) between
    * consecutive events of each (from, to) type pair — the
    * time-to-next-action metric behind funnel latency and abandonment
    * analyses. Median, not mean: one idle-overnight gap would dominate a
    * float mean, and the exact rank formulation (deterministic
    * (gap, user, event) tie-break) reproduces on any engine where an
    * interpolating percentile would not.
    *
    * Scale shape: one user-keyed shuffle for adjacency (lead window),
    * one pair-keyed shuffle for the rank — both information minimums;
    * output is O(types²).
    */
  def qDwellTimes(s: SparkSession, d: String): DataFrame = {
    // ordering by integer µs ≡ ordering by ts (truncation is order-preserving)
    val wAdj = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    val pairs = events(s, d)
      .select(col("user_id"), col("event_id"),
        col("event_type"), unix_micros(col("ts")).as("t"))
      .withColumn("next_type", lead(col("event_type"), 1).over(wAdj))
      .withColumn("gap_us", lead(col("t"), 1).over(wAdj) - col("t"))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("from_type"),
        col("next_type").as("to_type"),
        col("gap_us"), col("user_id"), col("event_id"))
    val wRank = Window.partitionBy(col("from_type"), col("to_type"))
      .orderBy(col("gap_us"), col("user_id"), col("event_id"))
    pairs
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("from_type"), col("to_type"))))
      .filter(col("rn") === ceil(col("n") / 2))
      .select(col("from_type"), col("to_type"), col("n"),
        col("gap_us").as("median_gap_us"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Flag pass of [[qVolumeAnomalies]] over a (event_type, day, n) daily
    * counts frame — shared by the batch gate and the streaming monitor
    * (which maintains the counts incrementally and re-runs only this tiny
    * pass per refresh).
    */
  def anomalyFlags(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .filter(col("prev_n").isNotNull)
      .withColumn("ratio_x10000", expr("(n * 10000) div prev_n"))
      .select(col("event_type"), col("day"), col("n"), col("prev_n"),
        col("ratio_x10000"),
        (col("ratio_x10000") <= 5000 || col("ratio_x10000") >= 15000)
          .as("is_anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Day-over-day volume anomaly detection — the pipeline-health monitor
    * that catches a broken producer (volume collapse) or a runaway one
    * (volume spike) per event type. One aggregate collapses the event
    * volume to the tiny (type, day) frame; the lag window and the flag run
    * over that aggregate, never the base table. The ratio is exact
    * integer ×10000 (both operands positive, so Spark's truncating `div`
    * and DuckDB's floor `//` agree); flagged when volume halves or grows
    * ≥1.5× versus the previous observed day.
    */
  def qVolumeAnomalies(s: SparkSession, d: String): DataFrame =
    anomalyFlags(events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n")))

  /** Decay horizon (days) for [[qDecayedEngagement]]. */
  val DecayHorizon = 30

  /** Time-decayed per-user engagement score (the recency-weighted feature
    * a ranking/recsys pipeline derives from an event log): every event
    * contributes 2^(horizon−1−age_days) — a one-day half-life decay — as
    * an EXACT integer, so the score is reproducible on any engine and
    * partitioning (float EWMA is order-dependent; this is not). The
    * anchor day is the corpus's own max event date, derived from a tiny
    * aggregate, so the query is deterministic per dataset with no
    * wall-clock dependence. Events older than the horizon weigh 0.
    *
    * Scale shape: the anchor is a broadcast scalar row; scoring is one
    * narrow scan + one user-keyed map-side-combined aggregate — the
    * information minimum for a per-user reduction. Weights stay < 2^30
    * and per-user sums < 2^52 at any plausible per-user event volume.
    */
  def qDecayedEngagement(s: SparkSession, d: String): DataFrame = {
    val anchor = events(s, d).agg(max(to_date(col("ts"))).as("anchor"))
    events(s, d)
      .crossJoin(broadcast(anchor))
      .select(col("user_id"),
        datediff(col("anchor"), to_date(col("ts"))).as("age"))
      // expr: functions.shiftleft only takes a literal shift amount
      .withColumn("w", expr(
        s"""CASE WHEN age BETWEEN 0 AND ${DecayHorizon - 1}
           |THEN shiftleft(CAST(1 AS BIGINT), ${DecayHorizon - 1} - age)
           |ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("age") <= 6, 1L).otherwise(0L)).as("n_last7"),
        min(col("age")).cast("long").as("days_since_last"),
        sum(col("w")).as("decayed_score"))
      .orderBy(col("user_id"))
  }

  /** Rolling 7-day / 1-day distinct active users per day — THE operational
    * health metric of any event product, and the classic "distinct over a
    * sliding window" problem: a window frame cannot express COUNT
    * DISTINCT, and re-scanning 7 days per day is 7× the work.
    *
    * Formulation: dedupe to (day, user) once — one shuffle that collapses
    * the event volume to at most users×days rows — then each pair
    * CONTRIBUTES itself to the 7 target days it covers (a 7× fanout of
    * the already-tiny deduped frame, the same bucket-expansion trick as
    * the range join), and one aggregate per target day counts distinct
    * users. Days beyond the data's max day are clipped; the first 6 days
    * are genuine partial windows.
    */
  def qRollingActives(s: SparkSession, d: String): DataFrame = {
    val du = events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
      .stage() // feeds the 1-day aggregate AND the 7-day fanout
    val bounds = du.agg(max(col("day")).as("max_day"))
    val d1 = du.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("actives_1d"))
    val d7 = du
      .select(explode(transform(sequence(lit(0), lit(6)),
        i => date_add(col("day"), i))).as("day"), col("user_id"))
      .crossJoin(broadcast(bounds))
      .filter(col("day") <= col("max_day"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("actives_7d"))
    d7.join(d1, Seq("day"), "left_outer")
      .select(col("day"), col("actives_7d"),
        coalesce(col("actives_1d"), lit(0L)).as("actives_1d"))
      .orderBy(col("day"))
  }

  /** The click/purchase mod-3 slice fixture BOTH stream-stream inner
    * join gates stage (one recipe — the gates and their common oracle
    * can never drift).
    */
  private def ssJoinStage(s: SparkSession, d: String): String =
    Cdc.stageOnce(s, "graft_ss_join_staged", d) { st =>
      val ev = events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      for (i <- 0 until 3) {
        ev.filter(col("event_type") === "click" &&
            pmod(col("event_id"), lit(3)) === i)
          .coalesce(1).write.parquet(s"$st/clicks/s$i")
        ev.filter(col("event_type") === "purchase" &&
            pmod(col("event_id"), lit(3)) === i)
          .coalesce(1).write.parquet(s"$st/purch/s$i")
      }
    }

  /** One `AvailableNow` drive of the watermarked click⋈purchase
    * stream-stream inner join over whatever slices currently sit in
    * `cDir`/`pDir`, resuming from `ck` if it exists. Shared by the
    * single-run gate and its restart twin.
    */
  private def ssJoinRun(s: SparkSession, cDir: String, pDir: String,
      outDir: String, ck: String): Unit = {
    import org.apache.spark.sql.streaming.OutputMode
    val schema =
      "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
    def src(dir: String): DataFrame =
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)
    val clicks = src(cDir)
      .select(col("event_id").as("click_id"), col("ts").as("c_ts"),
        col("user_id").as("c_user"))
      .withWatermark("c_ts", "365 days")
    val purch = src(pDir)
      .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"),
        col("user_id").as("p_user"), col("value"))
      .withWatermark("p_ts", "365 days")
    graft.streaming.Drive.await(clicks.join(purch,
        col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 2 HOURS"))
      .writeStream.format("parquet").option("path", outDir)
      .outputMode(OutputMode.Append), ck)
  }

  /** The two sides' slices `is` of the staged click/purchase fixture,
    * landed into the gate's `clicks`/`purch` input dirs.
    */
  private def ssSlices(staged: String, base: String, is: Range)
      : Seq[graft.streaming.Drive.Land] =
    is.flatMap(i => Seq(
      graft.streaming.Drive.Land(s"$staged/clicks/s$i", s"$base/clicks", s"s$i"),
      graft.streaming.Drive.Land(s"$staged/purch/s$i", s"$base/purch", s"s$i")))

  /** The order-canonical per-user rollup over the joined-pair sink —
    * identical for both inner-join gates (their oracle is shared).
    */
  private def ssJoinRollup(s: SparkSession, outDir: String): DataFrame =
    s.read.parquet(outDir)
      .groupBy(col("c_user"))
      .agg(count(lit(1)).as("n_attr"),
        sum(col("purchase_id")).as("pid_sum"),
        sum(unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
          .as("latency_us_sum"),
        sum(col("value").cast(Tables.Money)).as("value_sum"))
      .select(col("c_user").as("user_id"), col("n_attr"), col("pid_sum"),
        col("latency_us_sum"), col("value_sum"))
      .orderBy(col("user_id"))

  /** STREAM-STREAM watermarked join — click→purchase attribution run as
    * two live Structured-Streaming sources joined on (user, event-time
    * range): each purchase is attributed to every click by the same user
    * in the preceding 2 hours. This is the one join shape whose state
    * management is genuinely streaming-specific (both sides unbounded;
    * each side buffers keyed state and emits a pair exactly once when
    * the partner arrives), and the suite's other streaming gates don't
    * cover it — they stream one delta source against maintained state.
    *
    * Drive: the events table is split into click/purchase parquet
    * slices by `event_id mod 3` (three files per side), both sides read
    * with `maxFilesPerTrigger=1` under `AvailableNow` — so the join
    * processes three deterministic micro-batches per side and matching
    * pairs STRADDLE batches (a batch-0 click matches a batch-2
    * purchase), proving cross-batch state, not single-batch join. Both
    * sides carry event-time watermarks; the delay is deliberately wider
    * than the corpus span so NOTHING is ever late — streamed inner-join
    * output is then exactly the batch join, and the DuckDB oracle
    * recomputes it closed-form from `events`. (Watermark-driven state
    * EVICTION semantics are pinned separately by `q_cdc_txn_evict` and
    * the streaming specs; here the watermark bounds state without
    * touching values, which is what keeps the gate hash-exact.)
    *
    * The joined pairs land in an append-mode parquet sink (exactly-once
    * by sink manifest); one batch rollup over the sink makes the gate
    * output small and order-canonical. All aggregates are integer/
    * decimal-exact: pair counts, purchase-id sums, exact-µs latency
    * sums, decimal value sums.
    *
    * Scale shape: stream-stream join state is partitioned by the join
    * key (user), per-batch work is O(batch + matched state), and the
    * range condition bounds each side's buffered window once watermarks
    * advance (at 100 TB/day the delay is set to the real lateness SLA,
    * not the corpus span — the eviction contract the specs pin).
    */
  def qStreamStreamJoin(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.Drive
    val base = Drive.fresh(s, Cdc.gateTmpDir("graft_ss_join", d))
    val (cDir, pDir, outDir, ck) =
      (s"$base/clicks", s"$base/purch", s"$base/out", s"$base/ck")
    // one generation, one uninterrupted run over all three slices
    Drive.generations(s, Seq(ssSlices(ssJoinStage(s, d), base, 0 until 3)))(
      () => ssJoinRun(s, cDir, pDir, outDir, ck))
    ssJoinRollup(s, outDir)
  }

  /** Stream-stream join under a MID-DRIVE CHECKPOINT RESTART — the
    * untested half of [[qStreamStreamJoin]]'s contract (round-10
    * verdict item #4): that gate runs one uninterrupted drive, so the
    * recovery of the join's FOUR keyed state stores (left/right input ×
    * left/right match tracking) from the checkpoint never executes.
    * Here the stream processes slice 0 of each side, STOPS, slices 1–2
    * land while it is down, and the restarted run must RESUME: a
    * batch-0 click can only meet its batch-2 purchase through join
    * state that came back from the checkpoint — a re-bootstrap loses
    * every cross-restart pair (most of the output, since the mod-3
    * slicing scatters each user's clicks and purchases across slices)
    * and hash-fails. A duplicated or torn sink commit likewise shifts
    * the rollup (the parquet sink's manifest must stay exactly-once
    * across the restart).
    *
    * The oracle is IDENTICAL to [[qStreamStreamJoin]]'s closed form:
    * attribution must not depend on delivery — one drive, or a crash
    * and recovery in the middle.
    *
    * Scale shape: identical to the single-run gate; restart recovery
    * loads each partition's four stores once, O(live state), the
    * standard failover cost a 100 TB/day pipeline pays on any executor
    * or driver loss.
    */
  def qStreamStreamJoinRestart(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.Drive
    val base = Drive.fresh(s, Cdc.gateTmpDir("graft_ss_join_restart", d))
    val (cDir, pDir, outDir, ck) =
      (s"$base/clicks", s"$base/purch", s"$base/out", s"$base/ck")
    val staged = ssJoinStage(s, d)
    // slice 0 buffers join state; slices 1–2 land while the stream is
    // DOWN, and the restarted run must recover the four join stores and
    // match across the boundary
    Drive.generations(s, Seq(ssSlices(staged, base, 0 until 1),
        ssSlices(staged, base, 1 until 3)))(
      () => ssJoinRun(s, cDir, pDir, outDir, ck))
    ssJoinRollup(s, outDir)
  }

  /** Event-time TERTILE boundaries of `ev` (lo epoch-ms, slice width):
    * slice i = rows with (ts_ms − lo) / step == i, i ∈ 0..2 — three
    * disjoint, time-ORDERED slices covering the corpus. Streaming gates
    * feed slices as one-file micro-batches so no arrival ever lands
    * behind a batch-advanced watermark (the never-late argument in
    * [[qStreamStreamOuterJoin]]).
    */
  private def timeTertiles(ev: DataFrame): (Long, Long) = {
    val b = ev.agg(min(unix_millis(col("ts"))).as("lo"),
      max(unix_millis(col("ts"))).as("hi")).head()
    (b.getLong(0), (b.getLong(1) - b.getLong(0)) / 3 + 1)
  }

  /** Far-future watermark-advancing sentinel row (30 days past `hi`),
    * with a negative user id real data never carries so rollups filter
    * it and join conditions never match it.
    */
  private def sentinelRow(s: SparkSession, hiMs: Long, user: Long,
      eventType: String): DataFrame =
    s.range(1).select(lit(-1L).as("event_id"),
      timestamp_millis(lit(hiMs + 30L * 24 * 3600 * 1000)).as("ts"),
      lit(user).as("user_id"), lit(eventType).as("event_type"),
      lit(0.0).as("value"))

  /** Stream-stream LEFT OUTER join — the watermark-EVICTION semantics in
    * a hash gate: a click with no purchase in its 2-hour window emits its
    * null-extended row only when the global watermark passes the click's
    * state-retention bound (c_ts + 2h + the 1h delay) — outer results
    * are produced BY eviction, so unlike [[qStreamStreamJoin]] the
    * watermark machinery is value-bearing here, not just state-bounding.
    *
    * Determinism argument (why this is hash-exact against the batch
    * LEFT JOIN):
    *  - Slices are global event-time TERTILES, so batch i+1's rows all
    *    have event time beyond batch ≤ i's maximum: no input row ever
    *    arrives behind the watermark → the late-row filter drops
    *    nothing (the mod-N slicing the inner gate uses would NOT give
    *    this under a 1h delay).
    *  - A click is evicted only when the watermark passes c_ts + 2h; any
    *    purchase inside its window has p_ts ≤ c_ts + 2h, and by the
    *    tertile ordering it arrives while the watermark is still below
    *    p_ts — so no pair is lost to early eviction and no click both
    *    matches and emits null.
    *  - A final far-future SENTINEL slice on each side (users −1/−2,
    *    chosen never to satisfy the join's user equality) pushes both
    *    sides' watermarks past every real click's retention bound, and
    *    `AvailableNow` runs the trailing no-data batch that fires those
    *    evictions — so every unmatched click has emitted by termination
    *    and the sink holds exactly the batch join's rows.
    * The rollup filters the sentinels (c_user < 0) and aggregates
    * integer-exact; the oracle is the closed-form LEFT JOIN on `events`.
    *
    * Scale shape: same keyed state as the inner join, but the 1h delay
    * is now a real SLA — state per side is bounded by (delay + window)
    * of arrivals, the posture a 100 TB/day attribution pipeline runs
    * with (the inner gate's span-wide delay would buffer a full day).
    */
  def qStreamStreamOuterJoin(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.Drive
    val base = Drive.fresh(s, Cdc.gateTmpDir("graft_ss_outer", d))
    val (cDir, pDir, outDir, ck) =
      (s"$base/clicks", s"$base/purch", s"$base/out", s"$base/ck")
    // _v2 suffix: the sentinel-ts recipe changed after the first staging
    // (stageOnce trusts same-name trees byte-for-byte, so a recipe change
    // must land under a fresh prefix — the staged-fixture discipline)
    val staged = Cdc.stageOnce(s, "graft_ss_outer_staged_v2", d) { st =>
      val ev = events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val (lo, step) = timeTertiles(ev)
      val hi = lo + 3 * step
      def tertile(t: String, i: Int): DataFrame =
        ev.filter(col("event_type") === t &&
          ((unix_millis(col("ts")) - lo) / step).cast("int") === i)
      for (i <- 0 until 3) {
        tertile("click", i).coalesce(1).write.parquet(s"$st/clicks/s$i")
        tertile("purchase", i).coalesce(1).write.parquet(s"$st/purch/s$i")
      }
      sentinelRow(s, hi, -1L, "click")
        .coalesce(1).write.parquet(s"$st/clicks/s3")
      sentinelRow(s, hi, -2L, "purchase")
        .coalesce(1).write.parquet(s"$st/purch/s3")
    }
    val schema =
      "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
    def src(dir: String): DataFrame =
      s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)
    // one generation: every tertile plus the sentinels, one run
    Drive.generations(s, Seq(ssSlices(staged, base, 0 until 4))) { () =>
      val clicks = src(cDir)
        .select(col("event_id").as("click_id"), col("ts").as("c_ts"),
          col("user_id").as("c_user"))
        .withWatermark("c_ts", "1 hour")
      val purch = src(pDir)
        .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"),
          col("user_id").as("p_user"))
        .withWatermark("p_ts", "1 hour")
      Drive.await(clicks.join(purch,
          col("c_user") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr("INTERVAL 2 HOURS"),
          "left_outer")
        .writeStream.format("parquet").option("path", outDir)
        .outputMode(OutputMode.Append), ck)
    }
    s.read.parquet(outDir)
      .filter(col("c_user") >= 0)
      .groupBy(col("c_user"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("purchase_id")).as("n_matched"),
        coalesce(sum(col("purchase_id")), lit(0L)).as("pid_sum"),
        coalesce(sum(unix_micros(col("p_ts")) - unix_micros(col("c_ts"))),
          lit(0L)).as("latency_us_sum"))
      .select(col("c_user").as("user_id"), col("n_rows"), col("n_matched"),
        col("pid_sum"), col("latency_us_sum"))
      .orderBy(col("user_id"))
  }

  /** STREAMING sessionization — `session_window` under a real watermark
    * in append mode, the merge-on-overlap stateful aggregate ([[
    * qEventsSession]]'s streaming twin, same 30-minute gap, same output
    * shape, same oracle SQL). A session is held as keyed state, EXTENDED
    * or MERGED by later events, and emitted only when the watermark
    * passes its end — so unlike the batch gate this exercises session
    * state lifecycle, not just the window algebra.
    *
    * Hash-exactness argument (same fixture discipline as
    * [[qStreamStreamOuterJoin]]): event-time tertile slices mean every
    * arrival is ahead of the watermark (nothing late-dropped), a
    * finalized session can never be retro-extended — an extending event
    * would have to lie within the gap of a session whose end the
    * watermark already passed, but every unprocessed event's time is
    * ABOVE the watermark by the tertile ordering — and the far-future
    * sentinel closes every real session by termination. Streamed output
    * therefore equals the batch `session_window` result row-for-row.
    *
    * Scale shape: state is per (user, open session) — bounded by the
    * gap × arrival rate, the standard streaming-session posture; the
    * shuffle is the same single user-keyed exchange as the batch twin.
    */
  def qStreamSession(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    import graft.streaming.Drive
    val base = Drive.fresh(s, Cdc.gateTmpDir("graft_stream_session", d))
    val (inDir, outDir, ck) = (s"$base/in", s"$base/out", s"$base/ck")
    val staged = Cdc.stageOnce(s, "graft_stream_session_staged", d) { st =>
      val ev = events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val (lo, step) = timeTertiles(ev)
      for (i <- 0 until 3)
        ev.filter(((unix_millis(col("ts")) - lo) / step).cast("int") === i)
          .coalesce(1).write.parquet(s"$st/s$i")
      sentinelRow(s, lo + 3 * step, -1L, "click")
        .coalesce(1).write.parquet(s"$st/s3")
    }
    val schema =
      "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
    // one generation: every tertile plus the sentinel, one run
    Drive.generations(s,
        Seq((0 until 4).map(i => Drive.Land(s"$staged/s$i", inDir, s"s$i"))))(
      () => Drive.await(s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(MoneyVal).as("sum_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"), col("sum_value"))
        .writeStream.format("parquet").option("path", outDir)
        .outputMode(OutputMode.Append), ck))
    s.read.parquet(outDir)
      .filter(col("user_id") >= 0)
      .orderBy(col("user_id"), col("session_start"))
  }

  /** ARBITRARY-STATE v2 streaming (`transformWithState`, Spark 4.x) —
    * the successor API to `flatMapGroupsWithState`, driven end-to-end:
    * a typed [[graft.streaming.RunningTopK]] processor keeps per-user
    * (count, exact cents sum, top-3 purchases) in a NAMED `ValueState`
    * in the RocksDB state store (the provider this API requires —
    * pinned in the drive's conf window), emits the running totals on
    * every batch the user appears in, and must resume that state across
    * a CHECKPOINT RESTART placed mid-fixture: the final per-user
    * emission (max `n_events` — strictly increasing) equals the
    * closed-form per-user aggregate over the whole corpus only if
    * generation 3 folded into restored, not re-bootstrapped, state.
    *
    * Three event-time tertile slices, one micro-batch each, restart
    * before the third; `foreachBatch` lands emissions by batch path
    * (overwrite = replay-idempotent); the rollup picks each user's
    * newest emission. The top-3 string is deterministic under arbitrary
    * intra-batch order (see the processor's order-independence
    * argument); ties break by event id in both engines.
    *
    * Scale shape: O(1) state per user, O(batch) per micro-batch, state
    * partitioned by key across the store — the standing-aggregation
    * posture a 100 TB/day personalization pipeline runs with.
    */
  def qStreamTwsTopk(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import org.apache.spark.sql.{Encoders, Dataset}
    import graft.streaming.Drive
    val base = Drive.fresh(s, Cdc.gateTmpDir("graft_tws_topk", d))
    val (inDir, sink, ck) = (s"$base/in", s"$base/sink", s"$base/ck")
    val staged = Cdc.stageOnce(s, "graft_tws_topk_staged", d) { st =>
      val ev = events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      val (lo, step) = timeTertiles(ev)
      for (i <- 0 until 3)
        ev.filter(((unix_millis(col("ts")) - lo) / step).cast("int") === i)
          .coalesce(1).write.parquet(s"$st/s$i")
    }
    def run(): Unit = {
      // one file per micro-batch, like every streaming gate: the two
      // staged slices of run 1 must fold as separate batches or the
      // intra-run incremental path is never exercised (round-10 advisory)
      val src = s.readStream
        .schema("event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir)
        .select(col("user_id"), col("event_id"),
          (col("value").cast(Tables.Money) * 100).cast("long").as("cents"))
        .as(Encoders.product[graft.streaming.TwsEvent])
      implicit val outEnc: org.apache.spark.sql.Encoder[graft.streaming.TwsOut] =
        Encoders.product[graft.streaming.TwsOut]
      val out: Dataset[graft.streaming.TwsOut] = src
        .groupByKey(_.user_id)(Encoders.scalaLong)
        .transformWithState(new graft.streaming.RunningTopK(3),
          TimeMode.None(), OutputMode.Update())
      Drive.await(Drive.batchSink(out.toDF(), sink), ck)
    }
    // tertiles 1–2 build per-user state; tertile 3 lands while the
    // stream is DOWN: the restarted run must fold into RESTORED RocksDB
    // state (a re-bootstrap resets n_events for every returning user and
    // hash-fails)
    Drive.generations(s, Seq(Seq(0, 1), Seq(2)).map(_.map(i =>
      Drive.Land(s"$staged/s$i", inDir, s"s$i"))), rocksDb = true)(run)
    // final state per user = the max-n_events batch snapshot (the count
    // is cumulative, so the last emission carries the max; a re-emitted
    // tie is byte-identical)
    RankOne(s.read.parquet(sink).drop("batch"), Seq("user_id"),
        col("n_events").desc)
      .orderBy(col("user_id"))
  }

  /** EVENT-TIME TIMERS on the arbitrary-state v2 API — sessionization
    * re-expressed through [[graft.streaming.SessionProcessor]]:
    * `q_stream_session` runs the BUILT-IN `session_window`; this gate
    * proves `transformWithState` can express the same operator from
    * parts — one `ValueState` per open session, gap-exceeding events
    * closing inline, and a registered event-time timer emitting the
    * final session when the WATERMARK passes `last + gap` (the
    * `handleExpiredTimer` path, which [[qStreamTwsTopk]] never
    * exercises; `AvailableNow` runs the trailing no-data batch that
    * fires the last timers after the far-future sentinel advances the
    * watermark). Same fixture discipline as the built-in twin
    * (event-time tertiles + sentinel), PLUS a checkpoint restart
    * mid-fixture: open sessions AND their registered timers must
    * survive in the RocksDB store — a re-bootstrap splits every
    * straddling session and hash-fails. The oracle is the identical
    * lag/islands SQL the built-in twin hash-matches, so the two
    * formulations are pinned equal through the same ground truth.
    *
    * Scale shape: O(1) state + one pending timer per user; the
    * in-handler sort is O(batch log batch); emissions are one row per
    * closed session, the information minimum.
    */
  def qStreamTwsSession(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import org.apache.spark.sql.{Dataset, Encoders}
    import graft.streaming.Drive
    val base = Drive.fresh(s, Cdc.gateTmpDir("graft_tws_session", d))
    val (inDir, sink, ck) = (s"$base/in", s"$base/sink", s"$base/ck")
    val staged = Cdc.stageOnce(s, "graft_tws_session_staged", d) { st =>
      val ev = events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val (lo, step) = timeTertiles(ev)
      for (i <- 0 until 3)
        ev.filter(((unix_millis(col("ts")) - lo) / step).cast("int") === i)
          .coalesce(1).write.parquet(s"$st/s$i")
      sentinelRow(s, lo + 3 * step, -1L, "click")
        .coalesce(1).write.parquet(s"$st/s3")
    }
    def run(): Unit = {
      // one file per micro-batch (round-10 advisory): run 1's two slices
      // and run 2's slice+sentinel each fold as their own batch, so the
      // intra-run watermark advance is exercised, not just the restart
      val src = s.readStream
        .schema("event_id LONG, ts TIMESTAMP, user_id LONG, " +
          "event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir)
        .withWatermark("ts", "1 hour")
        .select(col("user_id"), col("ts"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"),
          (col("value").cast(Tables.Money) * 100).cast("long").as("cents"))
        .as(Encoders.product[graft.streaming.SessEvent])
      implicit val outEnc: org.apache.spark.sql.Encoder[graft.streaming.SessOut] =
        Encoders.product[graft.streaming.SessOut]
      val out: Dataset[graft.streaming.SessOut] = src
        .groupByKey(_.user_id)(Encoders.scalaLong)
        .transformWithState(
          new graft.streaming.SessionProcessor(30L * 60 * 1000),
          TimeMode.EventTime(), OutputMode.Update())
      Drive.await(Drive.batchSink(out.toDF(), sink), ck)
    }
    // tertiles 1–2: open sessions + timers land in the store; tertile 3
    // + sentinel arrive after a restart: straddling sessions and their
    // timers must come back from the checkpoint
    Drive.generations(s, Seq(Seq(0, 1), Seq(2, 3)).map(_.map(i =>
      Drive.Land(s"$staged/s$i", inDir, s"s$i"))), rocksDb = true)(run)
    s.read.parquet(sink)
      .filter(col("user_id") >= 0)
      .select(col("user_id"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"),
        col("n_events"), (col("cents") / 100.0).as("sum_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** UNBOUNDED-COLLECTION state variables + TTL on the arbitrary-state
    * v2 API — the [[graft.streaming.ActivityLog]] drive, completing the
    * `transformWithState` surface (round-10 verdict item #3): per-user
    * `MapState[event_type → count]` (point read/write per event — the
    * structure that keeps state traffic O(Δ) where a ValueState blob
    * would be O(state)) and `ListState` purchase logs (append-one-
    * element writes), both under a real [[org.apache.spark.sql
    * .streaming.TTLConfig]] — the API's state-GC contract, legal only
    * in `TimeMode.ProcessingTime`. The gate's TTL (6 h) is far wider
    * than its run, so the fold is deterministic while the TTL machinery
    * (metadata columns, cleanup passes) runs for real; the eviction
    * semantic itself is pinned by `StreamingTtlSpec` (short TTL +
    * restart: expired entries gone, survivors intact).
    *
    * Drive shape: same event-time tertile fixture as [[qStreamTwsTopk]],
    * but each slice runs as its OWN `Trigger.Once` drive — one
    * micro-batch per run, a CHECKPOINT RESTART before every slice after
    * the first (two restarts where the ValueState twin has one). This
    * is forced, not stylistic: in `TimeMode.ProcessingTime` the
    * operator's `shouldRunAnotherBatch` is unconditionally true (a
    * processing-time timer could always be due), so an `AvailableNow`
    * drive never terminates — it loops no-data batches for as long as
    * the process lives (measured: 3 000+ empty commits before the
    * diagnosis). `Trigger.Once` runs exactly one batch and stops, which
    * both terminates and makes batch ids deterministic. Map entries and
    * list elements must come back from the RocksDB store on every
    * resume — a re-bootstrap resets every returning user's histogram
    * and hash-fails.
    *
    * Scale shape: O(1) state ops per event, state per user bounded by
    * (distinct types) + (purchases within TTL) — the posture that lets
    * a 100 TB/day personalization pipeline hold per-user collections
    * without rewriting a blob per event.
    */
  def qStreamTwsActivity(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, Trigger}
    import org.apache.spark.sql.{Dataset, Encoders}
    import graft.streaming.Drive
    val base = Drive.fresh(s, Cdc.gateTmpDir("graft_tws_activity", d))
    val (inDir, sink, ck) = (s"$base/in", s"$base/sink", s"$base/ck")
    val staged = Cdc.stageOnce(s, "graft_tws_activity_staged", d) { st =>
      val ev = events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val (lo, step) = timeTertiles(ev)
      for (i <- 0 until 3)
        ev.filter(((unix_millis(col("ts")) - lo) / step).cast("int") === i)
          .coalesce(1).write.parquet(s"$st/s$i")
    }
    def run(): Unit = {
      val src = s.readStream
        .schema("event_id LONG, ts TIMESTAMP, user_id LONG, " +
          "event_type STRING, value DOUBLE")
        .parquet(inDir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          (col("value").cast(Tables.Money) * 100).cast("long").as("cents"))
        .as(Encoders.product[graft.streaming.ActEvent])
      implicit val outEnc: org.apache.spark.sql.Encoder[graft.streaming.ActOut] =
        Encoders.product[graft.streaming.ActOut]
      val out: Dataset[graft.streaming.ActOut] = src
        .groupByKey(_.user_id)(Encoders.scalaLong)
        .transformWithState(
          new graft.streaming.ActivityLog(
            TTLConfig(java.time.Duration.ofHours(6))),
          TimeMode.ProcessingTime(), OutputMode.Update())
      // Trigger.Once, NOT AvailableNow: see the drive-shape scaladoc —
      // ProcessingTime mode makes AvailableNow run no-data batches
      // forever. One batch per run is exactly this gate's contract.
      Drive.await(Drive.batchSink(out.toDF(), sink), ck, Trigger.Once())
    }
    // each slice is one Trigger.Once batch; every run after the first
    // is a checkpoint restart that must fold into RESTORED collection
    // state (a re-bootstrap resets every returning user's histogram and
    // purchase log and hash-fails)
    Drive.generations(s, (0 until 3).map(i =>
      Seq(Drive.Land(s"$staged/s$i", inDir, s"s$i"))), rocksDb = true)(run)
    // final state per user = the max-n_total batch snapshot (cumulative
    // count, same rationale as qStreamTwsTopk)
    RankOne(s.read.parquet(sink).drop("batch"), Seq("user_id"),
        col("n_total").desc)
      .orderBy(col("user_id"))
  }

  /** Straggler selector for [[qStreamLateDeadletter]]: every 20th
    * event id from the first tertile arrives two batches late.
    */
  val StragglerMod = 20

  /** Allowed lateness for [[qStreamLateDeadletter]] (1 hour in ms). */
  val LateDelayMs: Long = 3600000L

  /** LATE-DATA DEAD-LETTER accounting — the streaming semantic Spark's
    * built-in stateful operators cannot express: a watermarked aggregate
    * DROPS late rows silently, but a pipeline that must account for
    * every input (billing, audit, exactly-once reconciliation) routes
    * them to a dead-letter side output instead. The composable form is
    * an EXPLICIT watermark: a `foreachBatch` drive holds the running
    * max event time as versioned state ([[graft.cdc.VersionedState]],
    * idempotent by batch id — the streaming-IVM publish discipline),
    * computes `watermark = maxSoFar − allowed lateness` at each batch,
    * and classifies every arriving row on-time/late BEFORE folding —
    * nothing is dropped, the late rows carry their full payload to the
    * dead-letter partition for replay.
    *
    * Drive: event-time tertile slices (one micro-batch each), except
    * every [[StragglerMod]]th event of tertile 0 ARRIVES in batch 2 —
    * by then the explicit watermark (advanced by tertile 1) has passed
    * their event times, so they classify late; batch 0 classifies
    * nothing late (no prior state), and regular tertile rows are always
    * ahead of the watermark by slice monotonicity. A checkpoint restart
    * before the straggler batch proves the watermark state survives
    * process death (a re-bootstrap would classify nothing late — and
    * hash-fail). The sink is partitioned by batch id and written with
    * overwrite, so a replayed batch is idempotent.
    *
    * The watermark sequence is a pure function of the batch slicing, so
    * the DuckDB oracle reproduces the ENTIRE classification closed-form
    * (slice rule, straggler rule, per-batch max, lateness compare) —
    * there is no Spark-internal watermark in the loop to trust.
    *
    * Scale shape: per batch one narrow classification pass + one tiny
    * max aggregate; state is ONE row however large the stream; the
    * dead-letter write is sized to the late volume, not the stream.
    */
  def qStreamLateDeadletter(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.Drive
    val base = Drive.fresh(s, Cdc.gateTmpDir("graft_late_dlq", d))
    val sink = s"$base/sink"
    val staged = Cdc.stageOnce(s, "graft_late_dlq_staged", d) { st =>
      val ev = events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      val (lo, step) = timeTertiles(ev)
      val arr = ev
        .withColumn("slice",
          ((unix_millis(col("ts")) - lo) / step).cast("int"))
        .withColumn("arrival",
          when(col("slice") === 0 &&
            col("event_id") % StragglerMod === 0, 2)
            .otherwise(col("slice")))
      for (i <- 0 until 3)
        arr.filter(col("arrival") === i)
          .select(col("event_id"), col("ts"), col("user_id"), col("value"))
          .coalesce(1).write.parquet(s"$st/s$i")
    }
    // batches 0–1 build the explicit watermark; the stragglers land
    // while the stream is DOWN, and the restarted run must classify them
    // against the CHECKPOINTED watermark state
    Drive.maintain(s, base,
        Seq(Seq(0, 1), Seq(2)).map(_.map(i => s"$staged/s$i" -> s"s$i")),
        in => s.readStream
          .schema("event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE")
          // one file per micro-batch (round-10 advisory): tertiles 0 and
          // 1 must publish watermark state as SEPARATE batches, matching
          // the oracle's per-batch m0/m01 sequence by construction, not
          // by the coincidence that merged batches classify identically
          .option("maxFilesPerTrigger", "1")
          .parquet(in)) { batch =>
      val bt = batch.df
      // bounded read (< id): a checkpoint-replayed batch must classify
      // against the watermark BEFORE its own publish — an unbounded read
      // would see the batch's own max and re-classify differently than
      // the first attempt
      val prevMax: Option[Long] = batch.before("wm").map(_.head().getLong(0))
      val classified = prevMax match {
        case Some(mx) => bt.withColumn("is_late",
          unix_millis(col("ts")) < lit(mx - LateDelayMs))
        case None => bt.withColumn("is_late", lit(false))
      }
      // overwrite-by-batch-path: a post-restart replay is idempotent
      classified.select(col("event_id"), col("user_id"), col("value"),
          col("is_late"))
        .write.mode("overwrite").parquet(s"$sink/batch=${batch.id}")
      val batchMax: Option[Long] = {
        val r = bt.agg(max(unix_millis(col("ts")))).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
      val newMax = (prevMax ++ batchMax).foldLeft(Long.MinValue)(_ max _)
      if (newMax == Long.MinValue) Nil
      else Seq(Drive.Kinds("wm" -> s.range(1).select(lit(newMax).as("max_ms"))))
    }
    val out = s.read.parquet(sink)
    // accounting contract: nothing silently dropped, dead-letter is
    // real — one aggregate over the sink, one count of the base
    val acct = out.agg(count(lit(1)).as("total"),
      count(when(col("is_late"), 1)).as("late")).head()
    val (total, late) = (acct.getLong(0), acct.getLong(1))
    val corpus = events(s, d).count()
    require(total == corpus,
      s"q_stream_late_deadletter: sink holds $total of $corpus rows")
    require(late > 0,
      "q_stream_late_deadletter: no rows were classified late — the " +
        "straggler slice never exercised the dead-letter path")
    out.groupBy(col("user_id"))
      .agg(
        count(when(!col("is_late"), 1)).as("n_ontime"),
        sum(when(!col("is_late"), col("value").cast(Tables.Money))
          .otherwise(lit(0).cast(Tables.Money))).as("ontime_val_sum"),
        count(when(col("is_late"), 1)).as("n_late"),
        sum(when(col("is_late"), col("event_id")).otherwise(0L))
          .as("late_id_sum"))
      .orderBy(col("user_id"))
  }

  /** Closed-form twin of the dead-letter classification: slice rule,
    * straggler arrival, per-batch running max, lateness compare — the
    * watermark sequence is a pure function of the slicing, so the
    * oracle replays it without any streaming machinery. `floor` (not a
    * bare CAST) mirrors Spark's truncating int cast — DuckDB's CAST
    * rounds to nearest.
    */
  private val lateDeadletterOracle: String =
    s"""WITH ev AS (SELECT event_id, epoch_ms(ts) AS ms, user_id, value
       |            FROM events),
       |b AS (SELECT min(ms) AS lo,
       |        (max(ms) - min(ms)) // 3 + 1 AS step FROM ev),
       |sl AS (SELECT event_id, ms, user_id, value,
       |        CAST(floor((ms - lo) / CAST(step AS DOUBLE)) AS INT)
       |          AS slice
       |      FROM ev, b),
       |ar AS (SELECT *, CASE WHEN slice = 0 AND
       |          event_id % $StragglerMod = 0 THEN 2
       |        ELSE slice END AS arrival FROM sl),
       |m AS (SELECT max(CASE WHEN arrival = 0 THEN ms END) AS m0,
       |        max(CASE WHEN arrival <= 1 THEN ms END) AS m01 FROM ar),
       |cls AS (SELECT ar.*, CASE
       |          WHEN arrival = 1 THEN ms < m0 - $LateDelayMs
       |          WHEN arrival = 2 THEN ms < m01 - $LateDelayMs
       |          ELSE FALSE END AS is_late
       |        FROM ar, m)
       |SELECT user_id,
       |  count(*) FILTER (WHERE NOT is_late) AS n_ontime,
       |  sum(CASE WHEN NOT is_late THEN CAST(value AS DECIMAL(12,2))
       |      ELSE CAST(0 AS DECIMAL(12,2)) END) AS ontime_val_sum,
       |  count(*) FILTER (WHERE is_late) AS n_late,
       |  CAST(sum(CASE WHEN is_late THEN event_id ELSE 0 END) AS BIGINT)
       |    AS late_id_sum
       |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_stream_late_deadletter" -> lateDeadletterOracle,

    // the newest emission per user = the whole-corpus aggregate; top3
    // ties break by event id in both engines
    "q_stream_tws_topk" ->
      """WITH ev AS (SELECT user_id, event_id,
        |        CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |      FROM events),
        |r AS (SELECT user_id, event_id, cents,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY cents DESC, event_id) AS rk
        |      FROM ev),
        |t AS (SELECT user_id,
        |        string_agg(cents || ':' || event_id, ','
        |          ORDER BY cents DESC, event_id) AS top3
        |      FROM r WHERE rk <= 3 GROUP BY 1),
        |a AS (SELECT user_id, count(*) AS n_events,
        |        CAST(sum(cents) AS BIGINT) AS cents_sum
        |      FROM ev GROUP BY 1)
        |SELECT a.user_id, a.n_events, a.cents_sum, t.top3
        |FROM a JOIN t USING (user_id)
        |ORDER BY a.user_id""".stripMargin,
    // identical islands SQL for the built-in session_window drive AND
    // the transformWithState re-expression — both formulations pin to
    // the same ground truth
    "q_stream_tws_session" ->
      """WITH o AS (SELECT user_id, ts, event_id, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM o)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events,
        |  sum(CAST(value AS DECIMAL(12,2))) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q_stream_session" ->
      """WITH o AS (SELECT user_id, ts, event_id, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM o)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events,
        |  sum(CAST(value AS DECIMAL(12,2))) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q_stream_stream_outer_join" ->
      """WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
        |     p AS (SELECT * FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id AS user_id, count(*) AS n_rows,
        |  count(p.event_id) AS n_matched,
        |  CAST(coalesce(sum(p.event_id), 0) AS BIGINT) AS pid_sum,
        |  CAST(coalesce(sum(epoch_us(p.ts) - epoch_us(c.ts)), 0) AS BIGINT)
        |    AS latency_us_sum
        |FROM c LEFT JOIN p
        |  ON p.user_id = c.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stream_stream_join" ->
      """SELECT c.user_id AS user_id, count(*) AS n_attr,
        |  CAST(sum(p.event_id) AS BIGINT) AS pid_sum,
        |  CAST(sum(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT)
        |    AS latency_us_sum,
        |  sum(CAST(p.value AS DECIMAL(12,2))) AS value_sum
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.user_id = c.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // IDENTICAL closed form: the restart twin delivers the same slices
    // with a checkpoint stop/resume mid-drive, and must land on the same
    // attribution — a re-bootstrapped join state loses every
    // cross-restart pair and hash-fails
    "q_stream_stream_join_restart" ->
      """SELECT c.user_id AS user_id, count(*) AS n_attr,
        |  CAST(sum(p.event_id) AS BIGINT) AS pid_sum,
        |  CAST(sum(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT)
        |    AS latency_us_sum,
        |  sum(CAST(p.value AS DECIMAL(12,2))) AS value_sum
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.user_id = c.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // closed form of the activity-log fold: per-type histogram rolled
    // into the sorted type:count summary, total count, and the purchase
    // log's order-independent aggregates — the map entries and list
    // elements restored across the gate's restart must reproduce these
    // exactly (cents through the same DECIMAL(12,2)×100 exact path)
    "q_stream_tws_activity" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |        CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |      FROM events),
        |t AS (SELECT user_id, event_type, count(*) AS n
        |      FROM e GROUP BY 1, 2),
        |s AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS n_total,
        |        string_agg(event_type || ':' || CAST(n AS VARCHAR), ','
        |          ORDER BY event_type) AS type_summary
        |      FROM t GROUP BY 1),
        |p AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
        |        CAST(sum(event_id) AS BIGINT) AS purchase_id_sum,
        |        CAST(sum(cents) AS BIGINT) AS purchase_cents
        |      FROM e WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT s.user_id, s.n_total, s.type_summary,
        |  COALESCE(p.n_purchases, 0) AS n_purchases,
        |  COALESCE(p.purchase_id_sum, 0) AS purchase_id_sum,
        |  COALESCE(p.purchase_cents, 0) AS purchase_cents
        |FROM s LEFT JOIN p USING (user_id)
        |ORDER BY s.user_id""".stripMargin,

    "q_dwell_times" ->
      """WITH p AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS t,
        |    lead(event_type) OVER w AS next_type,
        |    lead(epoch_us(ts)) OVER w - epoch_us(ts) AS gap_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT event_type AS from_type, next_type AS to_type,
        |    gap_us, user_id, event_id
        |  FROM p WHERE next_type IS NOT NULL),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY from_type, to_type
        |      ORDER BY gap_us, user_id, event_id) AS rn,
        |    count(*) OVER (PARTITION BY from_type, to_type) AS n
        |  FROM g)
        |SELECT from_type, to_type, n, gap_us AS median_gap_us
        |FROM r WHERE rn = ceil(n / 2.0)
        |ORDER BY from_type, to_type""".stripMargin,

    "q_event_transitions" ->
      """WITH p AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |t AS (SELECT event_type AS from_type, next_type AS to_type,
        |    count(*) AS n
        |  FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST((n * 10000) // sum(n) OVER (PARTITION BY from_type)
        |    AS BIGINT) AS share_x10000
        |FROM t ORDER BY from_type, to_type""".stripMargin,

    "q_volume_anomalies" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT *,
        |    lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
        |  FROM daily)
        |SELECT event_type, CAST(day AS TIMESTAMP) AS day, n, prev_n,
        |  CAST((n * 10000) // prev_n AS BIGINT) AS ratio_x10000,
        |  ((n * 10000) // prev_n <= 5000 OR (n * 10000) // prev_n >= 15000)
        |    AS is_anomaly
        |FROM l WHERE prev_n IS NOT NULL
        |ORDER BY event_type, day""".stripMargin,

    "q_variant_extract" ->
      // json_valid CASE mirrors Spark's try_parse_json leniency: a
      // malformed props row nulls out on BOTH engines instead of crashing
      // the oracle (DuckDB's json_extract_string raises on bad JSON)
      """WITH p AS (SELECT event_type,
        |    CASE WHEN json_valid(props)
        |         THEN CAST(json_extract_string(props, '$.k') AS INTEGER)
        |    END AS k
        |  FROM events)
        |SELECT event_type,
        |  CAST(k % 10 AS INTEGER) AS k_mod,
        |  count(*) AS n_events,
        |  CAST(sum(k) AS BIGINT) AS sum_k
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_interval_overlap" ->
      """WITH iv AS (SELECT user_id, event_type,
        |    min(epoch_us(ts)) AS s, max(epoch_us(ts)) AS e
        |  FROM events GROUP BY 1, 2)
        |SELECT a.user_id, a.event_type AS type_a, b.event_type AS type_b,
        |  greatest(a.s, b.s) AS overlap_start,
        |  least(a.e, b.e) AS overlap_end
        |FROM iv a JOIN iv b
        |  ON a.user_id = b.user_id AND a.event_type < b.event_type
        | AND a.s <= b.e AND b.s <= a.e
        |ORDER BY a.user_id, type_a, type_b""".stripMargin,

    "q_decayed_engagement" ->
      s"""WITH a AS (SELECT max(CAST(ts AS DATE)) AS anchor FROM events),
         |e AS (SELECT user_id,
         |        date_diff('day', CAST(ts AS DATE), anchor) AS age
         |      FROM events CROSS JOIN a),
         |w AS (SELECT user_id, age,
         |        CASE WHEN age BETWEEN 0 AND ${DecayHorizon - 1}
         |             THEN (CAST(1 AS BIGINT) << (${DecayHorizon - 1} - age))
         |             ELSE CAST(0 AS BIGINT) END AS w
         |      FROM e)
         |SELECT user_id, count(*) AS n_events,
         |  CAST(sum(CASE WHEN age <= 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_last7,
         |  CAST(min(age) AS BIGINT) AS days_since_last,
         |  CAST(sum(w) AS BIGINT) AS decayed_score
         |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_rolling_actives" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |            FROM events),
        |b AS (SELECT max(day) AS max_day FROM du),
        |d1 AS (SELECT day, count(DISTINCT user_id) AS actives_1d
        |       FROM du GROUP BY 1),
        |f AS (SELECT day + CAST(i AS INTEGER) AS day, user_id
        |      FROM du CROSS JOIN range(0, 7) t(i)),
        |d7 AS (SELECT f.day, count(DISTINCT user_id) AS actives_7d
        |       FROM f CROSS JOIN b WHERE f.day <= b.max_day GROUP BY 1)
        |SELECT CAST(d7.day AS TIMESTAMP) AS day,
        |  CAST(actives_7d AS BIGINT) AS actives_7d,
        |  CAST(coalesce(actives_1d, 0) AS BIGINT) AS actives_1d
        |FROM d7 LEFT JOIN d1 ON d7.day = d1.day
        |ORDER BY d7.day""".stripMargin,

    "q_events_tumbling" ->
      """SELECT date_trunc('day', ts) AS window_start, event_type,
        |  count(*) AS n_events,
        |  sum(CAST(value AS DECIMAL(12,2))) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    "q_events_sliding" ->
      """SELECT make_timestamp(((epoch_us(ts)//1000000//21600)*21600 - i*21600) * 1000000)
        |    AS window_start,
        |  count(*) AS n_events,
        |  sum(CAST(value AS DECIMAL(12,2))) AS sum_value
        |FROM events, range(4) t(i)
        |GROUP BY 1 ORDER BY window_start""".stripMargin,

    "q_events_session" ->
      """WITH o AS (SELECT user_id, ts, event_id, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM o)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events,
        |  sum(CAST(value AS DECIMAL(12,2))) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q_events_asof" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        |  c.event_id AS prev_click_id,
        |  (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS gap_seconds
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND c.ts < p.ts
        |ORDER BY purchase_id""".stripMargin,

    "q_events_funnel" ->
      """WITH c AS (SELECT user_id, min(ts) AS t_click FROM events
        |           WHERE event_type = 'click' GROUP BY 1),
        |v AS (SELECT e.user_id, t_click, min(ts) AS t_view
        |      FROM events e JOIN c USING (user_id)
        |      WHERE event_type = 'view' AND ts > t_click GROUP BY 1, 2),
        |p AS (SELECT e.user_id, t_click, t_view, min(ts) AS t_purchase
        |      FROM events e JOIN v USING (user_id)
        |      WHERE event_type = 'purchase' AND ts > t_view GROUP BY 1, 2, 3)
        |SELECT user_id, t_click, t_view, t_purchase
        |FROM p ORDER BY user_id""".stripMargin,

    "q_events_attribution" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        |  count(*) AS n_clicks_1h
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = p.user_id
        | AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
        | AND epoch_us(c.ts) < epoch_us(p.ts)
        |GROUP BY 1, 2 ORDER BY purchase_id""".stripMargin,

    "q_range_join" ->
      """SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id,
        |  CAST((epoch_us(p.ts) - epoch_us(v.ts)) // 1000000 AS BIGINT)
        |    AS gap_seconds
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON v.user_id = p.user_id
        | AND epoch_us(v.ts) >= epoch_us(p.ts) - 3600000000
        | AND epoch_us(v.ts) < epoch_us(p.ts)
        |ORDER BY purchase_id, view_id""".stripMargin,

    "q_events_dedup" ->
      """WITH b AS (SELECT event_id, user_id, event_type, ts,
        |  make_timestamp((epoch_us(ts) // 600000000) * 600000000) AS bucket
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY bucket, user_id, event_type
        |        ORDER BY ts, event_id) AS rn
        |      FROM b)
        |SELECT event_id, user_id, event_type, bucket, ts
        |FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "q_gap_fill" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
        |    count(*) AS n, sum(CAST(value AS DECIMAL(12,2))) AS v
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type,
        |    unnest(generate_series(min(hour), max(hour),
        |      INTERVAL '1 hour')) AS hour
        |  FROM h GROUP BY event_type)
        |SELECT sp.event_type, sp.hour,
        |  coalesce(n, 0) AS n_events,
        |  coalesce(v, CAST(0 AS DECIMAL(12,2))) AS sum_value
        |FROM sp LEFT JOIN h
        |  ON sp.event_type = h.event_type AND sp.hour = h.hour
        |ORDER BY sp.event_type, sp.hour""".stripMargin,

    "q_retention_cohorts" ->
      """WITH wk AS (SELECT user_id, date_trunc('week', ts) AS week
        |            FROM events),
        |f AS (SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, week FROM wk),
        |g AS (SELECT cohort_week,
        |        date_diff('day', cohort_week, week) // 7 AS week_offset,
        |        count(DISTINCT a.user_id) AS n_users
        |      FROM a JOIN f ON a.user_id = f.user_id GROUP BY 1, 2),
        |z AS (SELECT *, first(n_users) OVER (PARTITION BY cohort_week
        |        ORDER BY week_offset) AS cohort_size FROM g)
        |SELECT cohort_week, week_offset, n_users,
        |  CAST(n_users * 10000 // cohort_size AS BIGINT) AS retention_x10000
        |FROM z ORDER BY cohort_week, week_offset""".stripMargin,

    "q_events_props" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k,
        |  count(DISTINCT CAST(props->>'k' AS INT)) AS distinct_k,
        |  max(CAST(props->>'k' AS INT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q_event_patterns" ->
      """WITH s AS (SELECT user_id, count(*) AS n_events,
        |    string_agg(event_type, ',' ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY 1),
        |a AS (SELECT user_id, n_events, seq,
        |    ',' || seq || ',' AS anchored FROM s)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |  CAST((length(anchored)
        |    - length(replace(anchored, ',view,click,purchase', '')))
        |    // 20 AS BIGINT) AS n_funnel_runs,
        |  string_split(seq, ',')[1] AS first_type,
        |  string_split(seq, ',')[-1] AS last_type
        |FROM a ORDER BY user_id""".stripMargin
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_events_tumbling" -> (qEventsTumbling _),
    "q_events_sliding" -> (qEventsSliding _),
    "q_events_session" -> (qEventsSession _),
    "q_events_asof" -> (qEventsAsof _),
    "q_events_props" -> (qEventsProps _),
    "q_events_funnel" -> (qEventsFunnel _),
    "q_events_attribution" -> (qEventsAttribution _),
    "q_range_join" -> (qRangeJoin _),
    "q_retention_cohorts" -> (qRetentionCohorts _),
    "q_gap_fill" -> (qGapFill _),
    "q_events_dedup" -> (qEventsDedup _),
    "q_event_patterns" -> (qEventPatterns _),
    "q_decayed_engagement" -> (qDecayedEngagement _),
    "q_rolling_actives" -> (qRollingActives _),
    "q_interval_overlap" -> (qIntervalOverlap _),
    "q_variant_extract" -> (qVariantExtract _),
    "q_volume_anomalies" -> (qVolumeAnomalies _),
    "q_event_transitions" -> (qEventTransitions _),
    "q_dwell_times" -> (qDwellTimes _),
    "q_stream_stream_join" -> (qStreamStreamJoin _),
    "q_stream_stream_outer_join" -> (qStreamStreamOuterJoin _),
    "q_stream_session" -> (qStreamSession _),
    "q_stream_late_deadletter" -> (qStreamLateDeadletter _),
    "q_stream_tws_topk" -> (qStreamTwsTopk _),
    "q_stream_tws_session" -> (qStreamTwsSession _),
    "q_stream_tws_activity" -> (qStreamTwsActivity _),
    "q_stream_stream_join_restart" -> (qStreamStreamJoinRestart _)
  )
}
