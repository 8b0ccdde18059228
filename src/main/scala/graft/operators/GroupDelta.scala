package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The group-delta algebra every maintained aggregate in graft runs on:
  * one deterministic step per batch over a group-keyed view (the
  * D-Streams micro-batch model). The IVM operators
  * ([[graft.cdc.IncrementalAggView]], [[graft.cdc.IncrementalFkAggView]],
  * [[graft.cdc.IncrementalStatsView]]) and the feed cascades
  * ([[ViewDelta.cascadeAgg]], [[ViewDelta.cascadeAggStats]]) only build
  * CONTRIBUTION frames `(g, v…)` — group first, one row per
  * contributing upstream row — and call the three pieces here:
  *
  *  - [[fold]]: insertions (+1) and retractions (−1) to per-group
  *    (Δcount, Δsum…), partially aggregated map-side;
  *  - [[merge]]: one group-keyed full-outer join of that fold into the
  *    view; groups whose count reaches 0 leave it;
  *  - [[extrema]]: min/max over one value by the dichotomy below.
  *
  * Every group match is NULL-SAFE (`<=>`): a groupBy over a nullable
  * column yields a NULL group, and a plain equi-join would never match
  * it with itself — the view would split it into a stale carried row
  * plus a delta row, or lose its threat and keep a stale extremum.
  *
  * THE MIN/MAX DICHOTOMY. count/sum are self-maintainable; min/max are
  * not under deletion (retracting the row that holds a group's
  * extremum leaves no algebraic way to know the runner-up). Let
  * (mn, mx) be a group's maintained extrema and R its retraction
  * multiset for this batch.
  *   - If every r ∈ R satisfies mn < r < mx STRICTLY, no retraction can
  *     carry the extremum (the rows holding mn and mx survive), so
  *     min' = least(mn, min(insertions)) and
  *     max' = greatest(mx, max(insertions)) — pure semilattice folds.
  *   - Otherwise some retraction touches the boundary (r ≤ mn or
  *     r ≥ mx — equality included: removing one of two copies of the
  *     minimum keeps it, but the algebra cannot know the multiplicity),
  *     and the group's extrema are re-aggregated from its FULL
  *     post-batch rows. Recompute is always correct; the threat test
  *     only decides when it is NEEDED.
  *
  * Scale shape: the fold is O(|Δ|) and combines map-side; the merge
  * touches only the group-sized view; the recompute's semi-join probe
  * is the threatened-group set — broadcast-sized when |Δ| is small — so
  * it costs O(rows of threatened groups), never O(source).
  */
private[graft] object GroupDelta {

  /** Per-group `(g, __dn, __d_<v>…)`: the signed count and sums of the
    * insertion and retraction contribution frames (same columns, group
    * first). Its key set is exactly the groups either frame touches. A
    * null value counts as a row and adds nothing to its sum.
    */
  def fold(ins: DataFrame, ret: DataFrame): DataFrame = {
    val g +: vs = ins.columns.toSeq
    def signed(c: DataFrame, sign: Long): DataFrame =
      c.select(col(g) +: lit(sign).as("__dn") +: vs.map(v =>
        (if (sign > 0) col(v) else -col(v)).as(s"__d_$v")): _*)
    // the sign folds map-side before any shuffle
    signed(ins, 1L).unionByName(signed(ret, -1L)).groupBy(col(g))
      .agg(sum(col("__dn")).as("__dn"),
        vs.map(v => sum(col(s"__d_$v")).as(s"__d_$v")): _*)
  }

  /** Merge a [[fold]] into `view` = `(g, count, sum…, rest…)`, its sums
    * in the fold's value order: counts and sums add, `rest` carries
    * through (null on a new group), and groups whose count reaches 0
    * leave the view. Appends `__touched` — true for exactly the groups
    * the fold holds (even on a net-zero delta: it witnesses
    * maintenance, not change), null elsewhere.
    */
  def merge(view: DataFrame, delta: DataFrame): DataFrame = {
    val g +: n +: rest = view.columns.toSeq
    val (sums, kept) = rest.splitAt(delta.columns.length - 2)
    val added = n +: sums
    def plus(c: String) =
      (coalesce(col(c), lit(0L)) + coalesce(col(s"__d_$c"), lit(0L))).as(c)
    view.join(delta.toDF("__dg" +: added.map(c => s"__d_$c"): _*)
          .withColumn("__touched", lit(true)),
        col(g) <=> col("__dg"), "full_outer")
      .select((coalesce(col(g), col("__dg")).as(g) +: added.map(plus)) ++
        kept.map(col) :+ col("__touched"): _*)
      .filter(col(n) > 0)
  }

  /** Min/max over a [[merge]]d view that carries the pre-batch extrema
    * as `mn`, `mx`. `ret` and `ins` are the batch's `(g, m)` retraction
    * and insertion contributions, `source` the POST-batch `(g, m)`
    * rows. Groups a retraction threatens re-aggregate from `source`
    * semi-joined to them; every other group folds least/greatest with
    * its insertions. Returns `merged` with `mn`, `mx` replaced and
    * `__threat` (true, or null) appended.
    */
  def extrema(merged: DataFrame, ret: DataFrame, ins: DataFrame,
      source: DataFrame): DataFrame = {
    import graft.Materialize.Ops
    val g = merged.columns.head
    val threat = ret.toDF("__tg", "__m")
      .join(merged.select(col(g), col("mn"), col("mx")), col("__tg") <=> col(g))
      .filter(col("__m") <= col("mn") || col("__m") >= col("mx"))
      .select(col("__tg"), lit(true).as("__threat")).distinct()
      .stage() // recompute semi-probe + marker join
    val recomputed = source.toDF("__rg", "__m")
      .join(threat, col("__rg") <=> col("__tg"), "left_semi")
      .groupBy(col("__rg"))
      .agg(min(col("__m")).as("__rmn"), max(col("__m")).as("__rmx"))
    val inserted = ins.toDF("__ig", "__m").groupBy(col("__ig"))
      .agg(min(col("__m")).as("__imn"), max(col("__m")).as("__imx"))
    merged
      .join(inserted, col(g) <=> col("__ig"), "left")
      .join(threat, col(g) <=> col("__tg"), "left")
      .join(recomputed, col(g) <=> col("__rg"), "left")
      .select(merged.columns.toSeq.map {
        // least/greatest skip nulls: an untouched group keeps (mn, mx),
        // a brand-new group takes the insertion fold outright
        case "mn" => when(col("__threat"), col("__rmn"))
          .otherwise(least(col("mn"), col("__imn"))).as("mn")
        case "mx" => when(col("__threat"), col("__rmx"))
          .otherwise(greatest(col("mx"), col("__imx"))).as("mx")
        case c => col(c)
      } :+ col("__threat"): _*)
  }
}
