package graft.cdc

import graft.operators.GroupDelta
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental maintenance of a count/sum/MIN/MAX aggregate view from
  * keyed CDC deltas — the step past [[IncrementalAggView]]: min and max
  * are NOT self-maintainable under deletion (retracting the row that
  * holds a group's extremum leaves no algebraic way to know the
  * runner-up), so every production IVM engine pairs the algebraic
  * count/sum path with a scoped re-aggregation for the groups whose
  * boundary a retraction touched. This operator implements exactly that
  * split (the reference's consumers keep per-group rollups fresh from
  * the change topics, `/root/reference/docs/architecture.md:49-66`;
  * min/max over those rollups is the first shape that forces the
  * recompute path):
  *
  *   - count/sum move ALGEBRAICALLY, O(|Δ|), by the insertion(+1)/
  *     retraction(−1) contribution fold [[IncrementalAggView]] proved;
  *   - min/max move algebraically where that is VALUE-EXACT, and fall
  *     back to a re-aggregation SCOPED to the threatened groups (with a
  *     `recomputed` witness) where it is not.
  *
  * The split rests on the min/max dichotomy stated on
  * [[graft.operators.GroupDelta]], the algebra every maintained
  * aggregate shares: a retraction strictly inside a group's (mn, mx)
  * cannot carry an extremum, one at or beyond it threatens the group.
  *
  * A maintenance step therefore:
  *   1. collects the touched-key set and the touched keys' OLD rows —
  *      the retraction set — and the refreshed rows — the insertion set
  *      (the shared max-lsn/delete-wins [[IncrementalJoinView]]
  *      reduction);
  *   2. folds (Δcount, Δsum) per group algebraically;
  *   3. probes retractions against the maintained (mn, mx) to find the
  *      threatened groups;
  *   4. re-aggregates min/max for threatened groups only, from the
  *      post-batch state semi-filtered to those groups; folds
  *      least/greatest for everyone else;
  *   5. merges by one group-keyed outer join: groups reaching count 0
  *      leave the view; `touchedCol` marks `recomputed` (boundary
  *      fallback ran), `delta_applied` (algebraic only), or `carried`.
  *
  * Scale shape: contributions are semi-joins on the touched-key set
  * (O(|Δ|)); the threat probe joins the retraction set against the
  * GROUP-sized view; the recompute semi-join's probe side is the
  * threatened-group set — broadcast-sized when |Δ| is small — so its
  * cost is O(rows of threatened groups), not O(state). At 100 TB,
  * bucket the live state by the group column so the recompute probe
  * prunes to the threatened groups' buckets instead of scanning; the
  * classic refinement of keeping a per-group k-smallest/k-largest
  * reserve (so most boundary deletes re-fold from the reserve instead
  * of re-aggregating) drops the fallback frequency by ~k× and slots in
  * behind the same threat test.
  */
object IncrementalStatsView {

  /** Bootstrap the maintained view `(g, n_members, total, mn, mx)` from
    * a live keyed state carrying `groupCol` and `metricCol`.
    */
  def bootstrap(state: DataFrame, groupCol: String, metricCol: String)
      : DataFrame =
    state.groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n_members"), sum(col(metricCol)).as("total"),
        min(col(metricCol)).as("mn"), max(col(metricCol)).as("mx"))

  /** One maintenance step. `agg` is the maintained view
    * `(g, n_members, total, mn, mx)`; `state` the live keyed rows
    * `(key, lsn, …payload)`; `delta` a change batch
    * `(key, op, lsn, …payload)`. Returns `(agg', state')` with
    * `touchedCol` on the view.
    */
  def step(agg: DataFrame, state: DataFrame, delta: DataFrame,
      key: String, groupCol: String, metricCol: String,
      touchedCol: String): (DataFrame, DataFrame) = {
    import graft.Materialize.Ops
    val touched = delta.select(col(key)).distinct()
      .stage() // semi-probe, refresh, and carry
    val stTouched = state.join(touched, Seq(key), "left_semi")
      .stage() // retraction read + refresh input
    // retractions: what the touched keys contribute NOW (pre-batch)
    val oldC = stTouched
      .select(col(groupCol).as("g"), col(metricCol).as("m"))
    val refreshed = IncrementalJoinView
      .refreshTouched(stTouched, delta, touched, key)
      .stage() // insertion read + state carry
    // insertions: what the touched keys contribute AFTER the batch
    val newC = refreshed
      .select(col(groupCol).as("g"), col(metricCol).as("m"))
    val state2 = IncrementalJoinView.carryState(state, touched, refreshed, key)
      .stage() // recompute probe + returned state
    val view = Seq("g", "n_members", "total", "mn", "mx").map(col)
    val merged = GroupDelta.extrema(
      GroupDelta.merge(agg.select(view: _*), GroupDelta.fold(newC, oldC)),
      oldC, newC,
      state2.select(col(groupCol).as("g"), col(metricCol).as("m")))
      .select(view :+ when(col("__threat"), lit("recomputed"))
        .when(col("__touched"), lit("delta_applied"))
        .otherwise(lit("carried")).as(touchedCol): _*)
    (merged, state2)
  }
}
