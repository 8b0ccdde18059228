package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CHANGE FEED between two versions of a keyed view — the output half
  * of incremental view maintenance: the `graft.cdc.Incremental*`
  * operators keep a materialization fresh in O(Δ), and downstream
  * consumers (a cache layer, a search index, another IVM stage) want
  * the VIEW'S OWN deltas, not repeated snapshots — the capability
  * lakehouse formats ship as a Change Data Feed. Expressed as one
  * keyed full-outer join of the two versions:
  *
  *  - a key only in `after`  → `op = 'c'` (the view gained the group)
  *  - a key only in `before` → `op = 'd'` (the group left the view)
  *  - a key in both with ANY value column differing (null-safe
  *    compare) → `op = 'u'`
  *  - keys with identical values are NOT emitted — the feed is sized
  *    to the change, which is the entire point.
  *
  * Output columns: keyCols, `op`, then `old_<v>` / `new_<v>` per value
  * column ('c' rows carry null olds, 'd' rows null news — the
  * before/after images a CDC consumer expects).
  *
  * Scale shape: [[diff]] is one key-partitioned full-outer join of two
  * group-cardinality frames (both are VIEWS — metadata-sized next to
  * their base tables), then a narrow filter — O(|view|), never
  * O(base). Paired with a maintained view whose step already knows its
  * touched groups, [[diffTouched]] semi-joins BOTH sides down to that
  * set first, so the per-batch feed costs O(touched), the shape a
  * streaming handler wants (`q_cdc_stream_changefeed` emits it live).
  */
object ViewDelta {

  /** Generated-name collision guard: the diff output carries `op`,
    * `old_<v>` / `new_<v>`, and internally `__bk_<k>` / `__ak_<k>` /
    * `__in_before` / `__in_after` — a view whose own columns land on
    * those names would silently produce duplicate/ambiguous output
    * columns (round-11 advisory), so reject them loudly at entry.
    */
  private def requireNoReservedNames(keyCols: Seq[String],
      valueCols: Seq[String]): Unit = {
    val all = keyCols ++ valueCols
    require(!all.contains("op"),
      "ViewDelta: a key/value column named 'op' collides with the feed's op column")
    require(keyCols.intersect(valueCols).isEmpty,
      s"ViewDelta: columns ${keyCols.intersect(valueCols)} appear as both key and value")
    require(all.forall(c => !c.startsWith("__")),
      "ViewDelta: '__'-prefixed columns collide with internal join aliases")
    require(keyCols.forall(k =>
        !valueCols.exists(v => k == s"old_$v" || k == s"new_$v")),
      "ViewDelta: a key column collides with a value column's old_/new_ image alias")
  }

  /** Diff `before` → `after` on `keyCols`, comparing `valueCols`.
    * Both frames must be key-unique (views are). The key match is
    * NULL-SAFE (`<=>`): a groupBy over a nullable column legitimately
    * produces a null-keyed group, and a plain equi-join would never
    * match it with itself — every diff would emit a spurious 'd'+'c'
    * pair for an unchanged null group. With `valueCols` empty the feed
    * degrades to pure membership (c/d only — no value to make a 'u').
    * See class doc for the op semantics and output layout.
    */
  def diff(before: DataFrame, after: DataFrame, keyCols: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "ViewDelta.diff needs at least one key")
    requireNoReservedNames(keyCols, valueCols)
    val b = before.select(
      keyCols.map(k => col(k).as(s"__bk_$k")) ++
        valueCols.map(v => col(v).as(s"old_$v")): _*)
      .withColumn("__in_before", lit(true))
    val a = after.select(
      keyCols.map(k => col(k).as(s"__ak_$k")) ++
        valueCols.map(v => col(v).as(s"new_$v")): _*)
      .withColumn("__in_after", lit(true))
    val keyMatch = keyCols
      .map(k => col(s"__bk_$k") <=> col(s"__ak_$k")).reduce(_ && _)
    val changed = valueCols
      .map(v => !(col(s"old_$v") <=> col(s"new_$v")))
      .reduceOption(_ || _).getOrElse(lit(false))
    b.join(a, keyMatch, "full_outer")
      .withColumn("op",
        when(col("__in_before").isNull, lit("c"))
          .when(col("__in_after").isNull, lit("d"))
          .otherwise(lit("u")))
      .filter(col("op") =!= "u" || changed)
      .select(keyCols.map(k =>
          coalesce(col(s"__bk_$k"), col(s"__ak_$k")).as(k)) ++
        Seq(col("op")) ++
        valueCols.map(v => col(s"old_$v")) ++
        valueCols.map(v => col(s"new_$v")): _*)
  }

  /** APPLY a change feed to a view snapshot — the CONSUMER half of the
    * CDF pair (a downstream cache/index holds version N, receives the
    * N→N+1 feed, and must land on version N+1 without ever seeing the
    * producer's base tables): every key the feed mentions is replaced —
    * 'd' keys dropped, 'c'/'u' keys take their `new_*` images — and
    * every unmentioned key carries unchanged. `diff` then `applyDelta`
    * round-trips by construction: the feed mentions exactly the keys
    * whose images differ, so replacing them reproduces `after`
    * (spec-pinned in `ViewDeltaSpec`, hash-gated by
    * `q_cdc_feed_apply`).
    *
    * Scale shape: one null-safe keyed anti-join of the view against
    * the feed's keys (O(|view| + |feed|)) plus an O(|feed|) projection
    * union — never O(base), and the feed side is delta-sized by the
    * producer's suppression contract.
    */
  def applyDelta(base: DataFrame, feed: DataFrame, keyCols: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "ViewDelta.applyDelta needs at least one key")
    requireNoReservedNames(keyCols, valueCols)
    val probe = feed.select(keyCols.map(k => col(k).as(s"__fk_$k")): _*)
    val cond = keyCols.map(k => base(k) <=> probe(s"__fk_$k"))
      .reduce(_ && _)
    val carried = base.join(probe, cond, "left_anti")
      .select((keyCols ++ valueCols).map(col): _*)
    val upserts = feed.filter(col("op") =!= "d")
      .select(keyCols.map(col) ++
        valueCols.map(v => col(s"new_$v").as(v)): _*)
    carried.unionByName(upserts)
  }

  /** CASCADE a change feed into a DOWNSTREAM aggregate — the "next IVM
    * stage" consumer: `down` materializes
    * `SELECT groupOf(key) AS groupName, count(*) AS n_rows,
    * sum(v) AS sum_<v>… FROM upstreamView GROUP BY 1`, and one feed of
    * the upstream view moves it algebraically — every feed row is a
    * retraction of its `old_*` image ('d'/'u') and/or an insertion of
    * its `new_*` image ('c'/'u'), so the per-group delta is one
    * O(|feed|) signed fold, merged by one group-keyed outer join (the
    * shared [[GroupDelta]] algebra). Downstream groups reaching zero rows leave the view. The upstream
    * view itself is NEVER read — aggregate views compose down a feed
    * chain the way the DBSP/Materialize dataflow model promises, each
    * stage O(its own feed).
    *
    * `groupOf` is an expression over the feed's KEY columns (the same
    * key on both images — a feed row never moves between downstream
    * groups, which is what makes the signed fold exact). Null images
    * contribute nothing to the sums.
    *
    * NULL-SUM DIVERGENCE (documented, round-12 advisory): the signed
    * fold carries sums as plain longs, so a downstream group ALL of
    * whose upstream values are NULL reads `sum_* = 0` where a direct
    * SQL recompute would read NULL (SQL's sum over zero non-null
    * inputs). Distinguishing them would need a per-group non-null
    * count in the downstream schema; the maintained gates' fixtures
    * never produce an all-null group, and a consumer that needs the
    * distinction should materialize `count(v)` as its own summed
    * column (a 0/1 indicator sum — exactly representable here).
    *
    * `down` must carry EXACTLY `groupName, n_rows, sum_<v>…` —
    * anything else would be silently dropped by the merge projection,
    * so it is rejected loudly instead.
    */
  def cascadeAgg(down: DataFrame, feed: DataFrame,
      groupOf: org.apache.spark.sql.Column, groupName: String,
      valueCols: Seq[String]): DataFrame = {
    val expect = groupName +: "n_rows" +: valueCols.map(v => s"sum_$v")
    require(down.columns.toSeq == expect,
      s"ViewDelta.cascadeAgg: downstream schema ${down.columns.toSeq} " +
        s"must be exactly $expect (extra columns would be dropped " +
        "silently by the merge)")
    val (ins, ret) = contributions(feed, groupOf, groupName, valueCols)
    GroupDelta.merge(down, GroupDelta.fold(ins, ret)).drop("__touched")
  }

  /** A feed's insertion (`new_*` images of 'c'/'u' rows) and retraction
    * (`old_*` images of 'u'/'d' rows) contribution frames
    * `(groupName, v…)` for the [[GroupDelta]] algebra.
    */
  private def contributions(feed: DataFrame,
      groupOf: org.apache.spark.sql.Column, groupName: String,
      valueCols: Seq[String]): (DataFrame, DataFrame) = {
    def images(skipOp: String, image: String): DataFrame =
      feed.filter(col("op") =!= skipOp).select(groupOf.as(groupName) +:
        valueCols.map(v => col(s"${image}_$v").as(v)): _*)
    (images("d", "new"), images("c", "old"))
  }

  /** [[cascadeAgg]] widened with MIN/MAX over one upstream value column
    * — the aggregate algebra's non-self-maintainable half, downstream:
    * a signed fold cannot retract an extremum (removing the row that
    * holds a group's max leaves no algebraic way to know the
    * runner-up), so this applies the min/max dichotomy stated on
    * [[GroupDelta]] — the same algebra [[graft.cdc.IncrementalStatsView]]
    * runs upstream — driven by the FEED's images instead of base deltas:
    *
    *   - count/sum move algebraically, O(|feed|), exactly [[cascadeAgg]];
    *   - a feed row retracting an `old_<extremumCol>` image AT OR
    *     BEYOND its downstream group's maintained (mn, mx) boundary
    *     THREATENS that group (equality included — multiplicity is
    *     unknowable from the aggregate), and threatened groups
    *     re-aggregate min/max from `upstream` — the POST-batch upstream
    *     view (the consumer holds it: it is `applyDelta`'s output, or
    *     the producer's just-published generation) — semi-joined to the
    *     threatened set, O(touched groups' upstream rows), never
    *     O(view);
    *   - unthreatened groups fold `least`/`greatest` with the feed's
    *     insertion images — pure semilattice moves.
    *
    * `down` must carry exactly
    * `groupName, n_rows, sum_<v>…, mn, mx` (mn/mx over `extremumCol`,
    * which must be one of `valueCols`); `upstream` carries the view's
    * key and value columns, with `groupOf` valid over both it and the
    * feed. Null images contribute nothing (SQL min/max skip nulls).
    */
  def cascadeAggStats(down: DataFrame, feed: DataFrame,
      upstream: DataFrame, groupOf: org.apache.spark.sql.Column,
      groupName: String, valueCols: Seq[String], extremumCol: String)
      : DataFrame = {
    require(valueCols.contains(extremumCol),
      s"ViewDelta.cascadeAggStats: extremum column $extremumCol must be " +
        s"one of $valueCols (the feed carries only value-column images)")
    val expect = groupName +: "n_rows" +: valueCols.map(v => s"sum_$v") :+
      "mn" :+ "mx"
    require(down.columns.toSeq == expect,
      s"ViewDelta.cascadeAggStats: downstream schema " +
        s"${down.columns.toSeq} must be exactly $expect")
    val (ins, ret) = contributions(feed, groupOf, groupName, valueCols)
    def extremum(c: DataFrame): DataFrame =
      c.select(col(groupName), col(extremumCol))
    GroupDelta.extrema(GroupDelta.merge(down, GroupDelta.fold(ins, ret)),
        extremum(ret), extremum(ins),
        upstream.select(groupOf.as(groupName), col(extremumCol)))
      .drop("__touched", "__threat")
  }

  /** TOUCHED-KEY-PRUNED diff: [[diff]] restricted to `touchedKeys` (a
    * frame carrying exactly `keyCols`, key-unique or not — it is only
    * a semi-join probe). An IVM step already computes the set of
    * groups its delta could have moved (retraction ∪ insertion
    * frontier), and every feed row is by definition inside that set —
    * a key outside it has identical images on both sides and would be
    * suppressed anyway — so semi-joining BOTH versions down to the
    * touched set first is value-identical to the full diff while
    * cutting the join from O(|view|) to O(|touched|) per batch: the
    * 100 TB shape for a per-micro-batch feed, where the view has
    * millions of groups and a batch touches hundreds.
    *
    * The semi-join uses the same null-safe key match as the diff
    * itself, so a touched NULL group prunes correctly.
    */
  def diffTouched(before: DataFrame, after: DataFrame,
      touchedKeys: DataFrame, keyCols: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "ViewDelta.diffTouched needs at least one key")
    requireNoReservedNames(keyCols, valueCols)
    def pruned(side: DataFrame): DataFrame = {
      val probe = touchedKeys
        .select(keyCols.map(k => col(k).as(s"__tk_$k")): _*)
      val cond = keyCols.map(k => side(k) <=> probe(s"__tk_$k"))
        .reduce(_ && _)
      side.join(probe, cond, "left_semi")
    }
    diff(pruned(before), pruned(after), keyCols, valueCols)
  }
}
