package graft.cdc

import graft.operators.GroupDelta
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental maintenance of an AGGREGATE over an N:1 FOREIGN-KEY
  * join — the composition of [[IncrementalFkJoinView]]'s fan-out
  * propagation with [[IncrementalAggView]]'s algebraic group deltas,
  * and the full shape of the commonest warehouse rollup:
  * `V = SELECT dim.g, count(*), sum(fact.m) FROM fact ⋈ dim
  *      ON fact.fk = dim.pk GROUP BY dim.g`
  * maintained from both change streams without re-scanning either base
  * table or re-aggregating untouched groups (the reference's consumers
  * keep exactly such per-attribute rollups of enriched streams,
  * `/root/reference/docs/architecture.md:49-66`).
  *
  * Why neither parent operator suffices: the GROUP lives on the dim
  * side while the METRIC lives on the fact side, so a single dim
  * update that rewrites a group attribute MOVES the contributions of
  * every referencing fact from the old group to the new one — a
  * retraction/insertion pair per fan-out row — and a dim delete
  * retracts them all. A maintenance step therefore:
  *   1. finds touched dims (delta pks) and touched facts (fact-delta
  *      keys ∪ the fan-out semi-probe of the PRE-batch fact state);
  *   2. reads the touched facts' OLD contributions against the
  *      PRE-batch dim state — the retraction set;
  *   3. refreshes both states for touched keys only and reads the NEW
  *      contributions against the POST-batch dim state (an fk
  *      re-pointed at an untouched dim must still contribute) — the
  *      insertion set;
  *   4. folds both sets to per-group (Δcount, Δsum) and merges into
  *      the group-sized view ([[graft.operators.GroupDelta]]) —
  *      `delta_applied` exactly for groups either set touches,
  *      `carried` for groups the merge provably never rewrote.
  *
  * Scale shape: the fan-out probe's build side is the touched-dim set
  * (broadcast-sized for normal batches); old/new contributions join
  * O(|touched facts|) rows against the dim state — the SMALL side of
  * an N:1 join by construction; the delta fold partially aggregates
  * map-side; the merge touches only the group-sized view. Per-batch
  * cost is O(|Δ| + fan-out + |touched groups|) versus the recompute's
  * full fact scan + join + re-aggregation — and fan-out is exactly
  * the number of contributions that must move, the information floor.
  */
object IncrementalFkAggView {

  /** Joined per-fact contributions `(factKey, g, m)`: `groupCol` rides
    * on the dim side, `metricCol` on the fact side.
    */
  def contribs(factState: DataFrame, dimState: DataFrame, factKey: String,
      fkCol: String, dimKey: String, groupCol: String,
      metricCol: String): DataFrame = {
    val f = factState.drop("lsn")
    val dm = dimState.drop("lsn")
    f.join(dm, f(fkCol) === dm(dimKey))
      .select(col(factKey), col(groupCol).as("g"), col(metricCol).as("m"))
  }

  /** Bootstrap the maintained aggregate from the two initial states. */
  def bootstrap(factState: DataFrame, dimState: DataFrame, factKey: String,
      fkCol: String, dimKey: String, groupCol: String,
      metricCol: String): DataFrame =
    contribs(factState, dimState, factKey, fkCol, dimKey, groupCol, metricCol)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_members"), sum(col("m")).as("total"))

  /** One maintenance step. `agg` is the maintained `(g, n_members,
    * total)` view; states/deltas carry the [[IncrementalFkJoinView]]
    * shapes. Returns `(agg', factState', dimState')`.
    */
  def step(agg: DataFrame, factState: DataFrame, dimState: DataFrame,
      factDelta: DataFrame, dimDelta: DataFrame, factKey: String,
      fkCol: String, dimKey: String, groupCol: String, metricCol: String,
      touchedCol: String): (DataFrame, DataFrame, DataFrame) = {
    import graft.Materialize.Ops
    val touchedDims = dimDelta.select(col(dimKey)).distinct()
      .stage() // fan-out probe, dim refresh, dim carry
    val fanOut = factState
      .join(touchedDims, factState(fkCol) === touchedDims(dimKey),
        "left_semi")
      .select(col(factKey))
    val touchedFacts = factDelta.select(col(factKey))
      .unionByName(fanOut).distinct()
      .stage() // fact semi-probe, fact refresh, fact carry
    val fTouched = factState.join(touchedFacts, Seq(factKey), "left_semi")
      .stage() // oldC + refresh input
    // retractions: touched facts' PRE-batch joined contributions
    val oldC = contribs(fTouched, dimState, factKey, fkCol, dimKey,
      groupCol, metricCol)
    val factT = IncrementalJoinView
      .refreshTouched(fTouched, factDelta, touchedFacts, factKey)
      .stage() // newC + fact-state carry
    val dimT = IncrementalJoinView
      .refreshTouched(dimState, dimDelta, touchedDims, dimKey)
      .stage() // post-batch dim state
    val dimAfter = IncrementalJoinView
      .carryState(dimState, touchedDims, dimT, dimKey)
      .stage() // newC + returned dim state
    // insertions: refreshed facts against the POST-batch dim state
    val newC = contribs(factT, dimAfter, factKey, fkCol, dimKey,
      groupCol, metricCol)
    (IncrementalAggView.applied(agg,
        GroupDelta.fold(newC.drop(factKey), oldC.drop(factKey)), touchedCol),
      IncrementalJoinView.carryState(factState, touchedFacts, factT, factKey),
      dimAfter)
  }
}
