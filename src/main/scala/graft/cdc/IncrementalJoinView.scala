package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.RankOne

/** Incremental maintenance of a keyed two-table INNER-JOIN view from CDC
  * deltas — the next consumer capability after incremental aggregates
  * (`q_cdc_incremental_agg`): a warehouse keeps `V = A ⋈ B` materialized
  * and applies each change batch in O(|Δ|), never re-scanning the base
  * tables (the reference's consumers build exactly such enriched
  * materializations from the change topics,
  * `/root/reference/docs/architecture.md:49-66`).
  *
  * Keyed-equi-join IVM (the Materialize / Delta-Live-Tables shape): each
  * side holds at most one live row per key, so a change batch can only
  * affect view rows whose key it TOUCHES. A maintenance step therefore:
  *   1. collects the touched-key set from both delta batches;
  *   2. refreshes each side's state for touched keys only — maintained
  *      state rows enter the same max-lsn/delete-wins reduction as the
  *      delta rows (a semi-join pulls exactly the touched state rows);
  *   3. rebuilds the view rows for touched keys from the refreshed
  *      states (inner join — a key missing on either side leaves the
  *      view), and CARRIES every untouched view row via an anti-join.
  *
  * Scale shape: all joins are key-equi (hash-partitioned once on the
  * key); the rank-1 reduction runs over |touched state| + |Δ| rows, not
  * the corpus; carried rows move through an anti-join whose probe side
  * is the broadcast-sized touched-key set when |Δ| is small. Cost per
  * batch is O(|Δ|) plus the carried-view pass — the recompute-from-
  * scratch alternative is O(|A| + |B|) scans plus a full re-join.
  */
object IncrementalJoinView {

  /** One side's live state from a delta frame `(key, op, lsn, payload…)`:
    * per key the first row under `(lsn DESC, op DESC)` wins, and a
    * winning delete removes the key. Retains `lsn` so the state can
    * re-enter later reductions; the output keeps the input's column
    * order minus `op`. Every producer stamps a non-null `lsn` and `op`,
    * and rows tying on both are identical replays; the empty-op re-tag
    * of carried state loses every equal-lsn tie to a real op. A
    * [[graft.operators.RankOne]] fold, pinned in `OperatorsSpec`
    * ("sideState reduction").
    */
  def sideState(deltas: DataFrame, key: String): DataFrame =
    RankOne(deltas, Seq(key), col("lsn").desc, col("op").desc)
      .filter(col("op") =!= "d")
      .drop("op")

  /** Touched-key set of one change batch (both sides' delta keys) —
    * shared by [[step]] and [[IncrementalAggView.step]].
    */
  private[cdc] def touchedKeys(aDelta: DataFrame, bDelta: DataFrame,
      key: String): DataFrame =
    aDelta.select(col(key)).unionByName(bDelta.select(col(key))).distinct()

  /** Refresh one side's state for the touched keys: the touched state
    * rows re-enter the [[sideState]] reduction alongside the delta rows.
    * Carried state re-tags with the EMPTY op sentinel, which sorts BELOW
    * every real op in the tie order — so a delta at the SAME lsn as the
    * stored row (a tombstone compacted onto the final change's lsn, a
    * same-position snapshot re-read) supersedes the stored row instead
    * of losing the tie. With op='r' re-tagging, an equal-lsn delete was
    * silently ignored and the phantom key survived every later batch.
    *
    * SCHEMA DRIFT: the union is name-based with missing columns
    * allowed, so a delta batch that ADDS a payload column (the upstream
    * table gained one — the warehouse convention is widen + null
    * backfill) widens the refreshed state in place: pre-drift state
    * rows carry NULL in the new column, delta rows carry their value.
    */
  private[cdc] def refreshTouched(state: DataFrame, delta: DataFrame,
      touched: DataFrame, key: String): DataFrame =
    sideState(
      state.join(touched, Seq(key), "left_semi")
        .withColumn("op", lit(""))
        .unionByName(delta, allowMissingColumns = true),
      key)

  /** Untouched state rows carried verbatim, refreshed rows appended;
    * name-based with missing columns allowed, so a drift-widened
    * refresh widens the carried rows too (NULL backfill).
    */
  private[cdc] def carryState(state: DataFrame, touched: DataFrame,
      refreshed: DataFrame, key: String): DataFrame =
    state.join(touched, Seq(key), "left_anti")
      .unionByName(refreshed, allowMissingColumns = true)

  /** One maintenance step. `view` must be the inner join of the two
    * maintained states (key + both payloads); `aState`/`bState` carry
    * (key, lsn, payload). Returns `(view', aState', bState')` with a
    * `touchedCol` marker on the view (`"refreshed"` for keys the deltas
    * touched, `"carried"` for rows that moved through untouched).
    *
    * Under schema drift (a delta batch adds a payload column) the view
    * WIDENS: refreshed rows carry the new column's values, carried rows
    * NULL-backfill it, and the new column lands after the pre-drift
    * view columns — the warehouse `ALTER TABLE ADD COLUMN` convention.
    */
  def step(view: DataFrame, aState: DataFrame, bState: DataFrame,
      aDelta: DataFrame, bDelta: DataFrame, key: String,
      touchedCol: String): (DataFrame, DataFrame, DataFrame) = {
    import graft.Materialize.Ops
    val touched = touchedKeys(aDelta, bDelta, key)
      .stage() // both refreshes, the view anti-join, and both carries
    val aT = refreshTouched(aState, aDelta, touched, key)
      .stage() // view rebuild + state carry
    val bT = refreshTouched(bState, bDelta, touched, key)
      .stage() // view rebuild + state carry
    val viewCols = view.columns.filter(_ != touchedCol)
    val vCarried = view.select(viewCols.map(col).toIndexedSeq: _*)
      .join(touched, Seq(key), "left_anti")
      .withColumn(touchedCol, lit("carried"))
    val joined = aT.drop("lsn").join(bT.drop("lsn"), key)
    // pre-drift view order first, then any drift-added columns
    val outCols = viewCols ++ joined.columns.filterNot(viewCols.contains)
    val vRefreshed = joined
      .withColumn(touchedCol, lit("refreshed"))
      .select((outCols.map(col) :+ col(touchedCol)).toIndexedSeq: _*)
    (vCarried.unionByName(vRefreshed, allowMissingColumns = true)
      .select((outCols.map(col) :+ col(touchedCol)).toIndexedSeq: _*),
      carryState(aState, touched, aT, key),
      carryState(bState, touched, bT, key))
  }
}
