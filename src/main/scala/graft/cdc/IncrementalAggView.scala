package graft.cdc

import graft.operators.GroupDelta
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental maintenance of an AGGREGATE-over-join view from CDC
  * deltas — the step past [[IncrementalJoinView]]: a warehouse keeps
  * `V = SELECT g, count(*), sum(m) FROM A ⋈ B GROUP BY g` materialized
  * and applies each change batch ALGEBRAICALLY, in O(|Δ|), without
  * re-scanning the base tables or re-aggregating untouched groups (the
  * reference's consumers maintain exactly such per-group rollups from
  * the change topics, `/root/reference/docs/architecture.md:49-66`).
  *
  * count/sum are self-maintainable aggregates: the view moves by the
  * DIFFERENCE between the touched keys' new and old contributions, so a
  * step never needs any untouched key's row. A maintenance step:
  *   1. collects the touched-key set from both delta batches;
  *   2. reads those keys' OLD joined contributions from the maintained
  *      states — the retraction set;
  *   3. refreshes both side states for touched keys only
  *      ([[IncrementalJoinView.sideState]] reduction) and reads the NEW
  *      contributions — the insertion set;
  *   4. folds insertions(+1) and retractions(−1) to per-group
  *      (Δcount, Δsum) and merges them into the view by one group-keyed
  *      outer join ([[graft.operators.GroupDelta]], the algebra every
  *      maintained aggregate shares): groups reaching count 0 leave the
  *      view, groups the delta touched are marked `delta_applied` (even
  *      on a net-zero delta — the marker witnesses MAINTENANCE
  *      structure, not change), all other groups are `carried`.
  *
  * This handles every keyed-CDC mutation shape: a payload update shifts
  * a group's sum; a GROUP-attribute update retracts from the old group
  * and inserts into the new one (the case plain re-aggregation of the
  * delta rows gets wrong); a delete on either side retracts the joined
  * contribution.
  *
  * Scale shape: contributions and state refreshes are key-equi joins
  * semi-filtered to the touched set (O(|Δ|)); the per-group delta fold
  * partially aggregates map-side; only the final merge touches the view,
  * which is GROUP-sized — orders of magnitude below the base tables it
  * summarizes. Per-batch cost is O(|Δ| + |groups|) versus the full
  * recompute's O(|A| + |B|) scan + join + aggregate.
  */
object IncrementalAggView {

  /** Joined per-key contributions `(key, g, m)` of the two live states:
    * `groupCol` rides on side A, `metricCol` on side B.
    */
  def contribs(aState: DataFrame, bState: DataFrame, key: String,
      groupCol: String, metricCol: String): DataFrame =
    aState.drop("lsn").join(bState.drop("lsn"), key)
      .select(col(key), col(groupCol).as("g"), col(metricCol).as("m"))

  /** Bootstrap the maintained aggregate from the two initial states. */
  def bootstrap(aState: DataFrame, bState: DataFrame, key: String,
      groupCol: String, metricCol: String): DataFrame =
    contribs(aState, bState, key, groupCol, metricCol)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_members"), sum(col("m")).as("total"))

  /** One maintenance step. `agg` is the maintained view
    * `(g, n_members, total)`; deltas carry `(key, op, lsn, payload…)`.
    * Returns `(agg', aState', bState')`, with `touchedCol` on the view.
    */
  def step(agg: DataFrame, aState: DataFrame, bState: DataFrame,
      aDelta: DataFrame, bDelta: DataFrame, key: String,
      groupCol: String, metricCol: String, touchedCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val (delta, aCarry, bCarry) = foldStep(aState, bState, aDelta, bDelta,
      key, groupCol, metricCol)
    (applied(agg, delta, touchedCol), aCarry, bCarry)
  }

  /** [[step]] that ALSO returns the step's touched-GROUP set — distinct
    * `g` over the retraction ∪ insertion contribution frontier, i.e.
    * every group the merge could possibly have rewritten, INCLUDING
    * groups the step emptied out of the view (a marker-based read of
    * the merged view would miss exactly those — they are the feed's
    * 'd' rows). This is the probe [[graft.operators.ViewDelta
    * .diffTouched]] wants: the per-batch change feed then costs
    * O(touched), never O(view). Only THIS variant stages the delta
    * fold (it is consumed twice — merge and probe); the plain [[step]]
    * keeps it lazy inside the merge plan, where staging would add a
    * whole extra materialization pass per step (measured +1.9 s on the
    * two-step `q_cdc_mv_ivm` when round 12 briefly staged both paths).
    */
  def stepWithTouched(agg: DataFrame, aState: DataFrame, bState: DataFrame,
      aDelta: DataFrame, bDelta: DataFrame, key: String,
      groupCol: String, metricCol: String, touchedCol: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import graft.Materialize.Ops
    val (fold, aCarry, bCarry) = foldStep(aState, bState, aDelta, bDelta,
      key, groupCol, metricCol)
    val delta = fold.stage() // merge + touched probe
    (applied(agg, delta, touchedCol), aCarry, bCarry, delta.select(col("g")))
  }

  /** Steps 1–3 and the fold of step 4: the per-group
    * [[GroupDelta.fold]] of the touched keys' contributions, and both
    * carried side states.
    */
  private def foldStep(aState: DataFrame, bState: DataFrame,
      aDelta: DataFrame, bDelta: DataFrame, key: String, groupCol: String,
      metricCol: String): (DataFrame, DataFrame, DataFrame) = {
    import graft.Materialize.Ops
    val touched = IncrementalJoinView.touchedKeys(aDelta, bDelta, key)
      .stage() // semi-probes (×2), both refreshes, and both carries
    def touchedOnly(state: DataFrame): DataFrame =
      state.join(touched, Seq(key), "left_semi").stage() // oldC + refresh
    val aTouched = touchedOnly(aState)
    val bTouched = touchedOnly(bState)
    // retractions: what the touched keys contribute NOW (pre-batch)
    val oldC = contribs(aTouched, bTouched, key, groupCol, metricCol)
    // refreshed side states for touched keys (max-lsn/delete-wins over
    // touched state rows + delta rows — the shared sideState reduction,
    // with the empty-op re-tag so an equal-lsn delta supersedes state)
    val aT = IncrementalJoinView.refreshTouched(aTouched, aDelta, touched, key)
      .stage() // newC + state carry
    val bT = IncrementalJoinView.refreshTouched(bTouched, bDelta, touched, key)
      .stage() // newC + state carry
    val newC = contribs(aT, bT, key, groupCol, metricCol)
    (GroupDelta.fold(newC.drop(key), oldC.drop(key)),
      IncrementalJoinView.carryState(aState, touched, aT, key),
      IncrementalJoinView.carryState(bState, touched, bT, key))
  }

  /** The maintained `(g, n_members, total, touchedCol)` view after a
    * [[GroupDelta.merge]] of a `(g, m)` contribution fold — groups the
    * fold holds are `delta_applied`, all others `carried`. Shared with
    * [[IncrementalFkAggView.step]].
    */
  private[cdc] def applied(agg: DataFrame, delta: DataFrame,
      touchedCol: String): DataFrame =
    GroupDelta.merge(agg.select(col("g"), col("n_members"), col("total")),
        delta)
      .select(col("g"), col("n_members"), col("total"),
        when(col("__touched"), lit("delta_applied"))
          .otherwise(lit("carried")).as(touchedCol))
}
