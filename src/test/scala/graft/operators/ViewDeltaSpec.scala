package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** [[ViewDelta]]'s op semantics on a synthetic keyed view — including
  * the cases the gate fixture cannot produce: a DROPPED group ('d'),
  * null-valued columns under the null-safe compare, and the
  * unchanged-suppression that keeps the feed delta-sized.
  */
class ViewDeltaSpec extends SparkSpec {

  private def v(rows: Seq[(String, java.lang.Long, java.lang.Long)])
      : DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("g", "n", "t")
  }

  test("c/d/u classification, before/after images, and " +
    "unchanged suppression") {
    val before = v(Seq(("a", 2L, 30L), ("b", 1L, 5L), ("c", 4L, 9L)))
    val after = v(Seq(("a", 3L, 42L), ("c", 4L, 9L), ("d", 1L, 7L)))
    val got = ViewDelta.diff(before, after, Seq("g"), Seq("n", "t"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)),
        Option(r.get(4)), Option(r.get(5)))).toSeq
    assert(got == Seq(
      ("a", "u", Some(2L), Some(30L), Some(3L), Some(42L)),
      ("b", "d", Some(1L), Some(5L), None, None),
      ("d", "c", None, None, Some(1L), Some(7L))))
    // "c" (unchanged) is absent: the feed is sized to the change
  }

  test("null-safe value compare: null -> value and value -> null are " +
    "updates; null -> null is unchanged") {
    val before = v(Seq(("a", null, 1L), ("b", 2L, null), ("c", null, 3L)))
    val after = v(Seq(("a", 5L, 1L), ("b", 2L, null), ("c", null, 4L)))
    val got = ViewDelta.diff(before, after, Seq("g"), Seq("n", "t"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq
    // b is identical (null <=> null on n's sibling t) and suppressed
    assert(got == Seq(("a", "u"), ("c", "u")))
  }

  test("null KEYS are matched null-safely: an unchanged null-keyed " +
    "group is suppressed, a changed one is one 'u' row (round-11 " +
    "review: the equi-join emitted a spurious d+c pair every diff)") {
    val before = v(Seq((null, 2L, 30L), ("a", 1L, 5L)))
    val unchanged = ViewDelta.diff(before,
      v(Seq((null, 2L, 30L), ("a", 1L, 5L))), Seq("g"), Seq("n", "t"))
    assert(unchanged.collect().isEmpty)
    val updated = ViewDelta.diff(before,
      v(Seq((null, 3L, 31L), ("a", 1L, 5L))), Seq("g"), Seq("n", "t"))
      .collect().map(r => (Option(r.getString(0)), r.getString(1))).toSeq
    assert(updated == Seq((None, "u")))
  }

  test("empty valueCols degrades to a membership (c/d) feed instead " +
    "of crashing") {
    val got = ViewDelta.diff(
      v(Seq(("a", 1L, 1L), ("b", 1L, 1L))).select("g"),
      v(Seq(("b", 1L, 1L), ("c", 1L, 1L))).select("g"),
      Seq("g"), Seq.empty)
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("a", "d"), ("c", "c")))
  }

  test("multi-column keys diff independently") {
    val s = spark; import s.implicits._
    val before = Seq(("x", 1, 10L), ("x", 2, 20L)).toDF("g", "k", "t")
    val after = Seq(("x", 1, 11L), ("x", 2, 20L), ("y", 1, 5L))
      .toDF("g", "k", "t")
    val got = ViewDelta.diff(before, after, Seq("g", "k"), Seq("t"))
      .orderBy("g", "k").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq
    assert(got == Seq(("x", 1, "u"), ("y", 1, "c")))
  }

  test("applyDelta round-trips the diff: applying the feed to the " +
    "before image reproduces the after image — c/d/u, null keys and " +
    "null values included") {
    val before = v(Seq(("a", 2L, 30L), ("b", 1L, 5L), ("c", 4L, 9L),
      (null, 7L, null)))
    val after = v(Seq(("a", 3L, 42L), ("c", 4L, 9L), ("d", 1L, 7L),
      (null, 8L, null)))
    val feed = ViewDelta.diff(before, after, Seq("g"), Seq("n", "t"))
    val got = ViewDelta
      .applyDelta(before, feed, Seq("g"), Seq("n", "t"))
      .orderBy("g", "n").collect().map(_.toSeq).toSeq
    val want = after.orderBy("g", "n").collect().map(_.toSeq).toSeq
    assert(got == want, s"$got != $want")
    // an EMPTY feed applies as identity (nothing changed)
    val idGot = ViewDelta
      .applyDelta(before, feed.filter(org.apache.spark.sql.functions
        .lit(false)), Seq("g"), Seq("n", "t"))
      .orderBy("g", "n").collect().map(_.toSeq).toSeq
    assert(idGot == before.orderBy("g", "n").collect()
      .map(_.toSeq).toSeq)
  }

  test("applyDelta is idempotent under at-least-once delivery: " +
    "re-applying the same feed (d rows included) is a no-op — the " +
    "reference's delivery guarantee means a consumer may see one " +
    "generation twice") {
    val before = v(Seq(("a", 2L, 30L), ("b", 1L, 5L), ("c", 4L, 9L),
      (null, 7L, null)))
    val after = v(Seq(("a", 3L, 42L), ("c", 4L, 9L), ("d", 1L, 7L),
      (null, 8L, null)))
    val feed = ViewDelta.diff(before, after, Seq("g"), Seq("n", "t"))
    assert(feed.filter(org.apache.spark.sql.functions.col("op") === "d")
      .count() == 1, "fixture must exercise a 'd'-bearing feed")
    val applied = ViewDelta.applyDelta(before, feed, Seq("g"), Seq("n", "t"))
    val twice = ViewDelta.applyDelta(applied, feed, Seq("g"), Seq("n", "t"))
      .orderBy("g", "n").collect().map(_.toSeq).toSeq
    assert(twice == applied.orderBy("g", "n").collect().map(_.toSeq).toSeq,
      "double-applied feed diverged from single application")
  }

  test("cascadeAgg rejects a downstream frame whose schema is not " +
    "exactly groupName/n_rows/sum_* (an extra column would be dropped " +
    "silently by the merge)") {
    import org.apache.spark.sql.functions.{col, lit, substring_index}
    val before = v(Seq(("x-1", 1L, 10L)))
    val feed = ViewDelta.diff(before, v(Seq(("x-1", 2L, 10L))),
      Seq("g"), Seq("n", "t"))
    val down = before.select(substring_index(col("g"), "-", 1).as("h"),
      lit(1L).as("n_rows"), lit(1L).as("sum_n"), lit(10L).as("sum_t"),
      lit("extra").as("note"))
    intercept[IllegalArgumentException](
      ViewDelta.cascadeAgg(down, feed,
        substring_index(col("g"), "-", 1), "h", Seq("n", "t")))
  }

  test("cascadeAgg moves a downstream rollup from the feed alone — " +
    "group emptied out, group created, and update deltas all exact") {
    import org.apache.spark.sql.functions.{col, count, lit, sum,
      substring_index}
    // upstream view keyed by g; downstream groups by the part before
    // the dash. 'x-2' is the ONLY x member and gets deleted (downstream
    // group must vanish); 'z-1' is created (downstream group appears);
    // 'y-1' updates in place.
    val before = v(Seq(("x-2", 1L, 10L), ("y-1", 2L, 5L), ("y-2", 3L, 6L)))
    val after = v(Seq(("y-1", 4L, 9L), ("y-2", 3L, 6L), ("z-1", 1L, 2L)))
    def down(view: org.apache.spark.sql.DataFrame) =
      view.groupBy(substring_index(col("g"), "-", 1).as("h"))
        .agg(count(lit(1)).as("n_rows"), sum(col("n")).as("sum_n"),
          sum(col("t")).as("sum_t"))
    val feed = ViewDelta.diff(before, after, Seq("g"), Seq("n", "t"))
    val got = ViewDelta.cascadeAgg(down(before), feed,
        substring_index(col("g"), "-", 1), "h", Seq("n", "t"))
      .orderBy("h").collect().map(_.toSeq).toSeq
    val want = down(after).orderBy("h").collect().map(_.toSeq).toSeq
    assert(got == want, s"$got != $want")
    assert(got.map(_.head) == Seq("y", "z"), "x emptied, z appeared")
  }

  test("cascadeAggStats retracts an extremum via the scoped recompute " +
    "(boundary retraction → re-aggregate from upstream), folds " +
    "unthreatened groups algebraically, and handles group birth/death") {
    import org.apache.spark.sql.functions.{col, count, lit, max, min,
      sum, substring_index}
    // downstream groups by the prefix before the dash; 't' is the
    // extremum metric. Moves:
    //  x: 'x-1' holds the group MAX (t=50) and is DELETED — the signed
    //     fold cannot know the runner-up (t=10); only a recompute can.
    //  y: 'y-3' updates t 40→60, strictly interior to y's (1, 100) —
    //     must stay on the algebraic least/greatest path, no recompute.
    //  z: created outright (downstream group must appear with its fold)
    //  NULL: the null key's downstream group; its max 80 is retracted
    //     (80 → 30), so the threat must match the NULL group too
    val before = v(Seq(("x-1", 1L, 50L), ("x-2", 1L, 10L),
      ("y-1", 2L, 100L), ("y-2", 3L, 1L), ("y-3", 1L, 40L),
      (null, 1L, 80L)))
    val after = v(Seq(("x-2", 1L, 10L),
      ("y-1", 2L, 100L), ("y-2", 3L, 1L), ("y-3", 1L, 60L),
      ("z-1", 1L, 2L), (null, 1L, 30L)))
    def down(view: org.apache.spark.sql.DataFrame) =
      view.groupBy(substring_index(col("g"), "-", 1).as("h"))
        .agg(count(lit(1)).as("n_rows"), sum(col("n")).as("sum_n"),
          sum(col("t")).as("sum_t"),
          min(col("t")).as("mn"), max(col("t")).as("mx"))
    val feed = ViewDelta.diff(before, after, Seq("g"), Seq("n", "t"))
    val got = ViewDelta.cascadeAggStats(down(before), feed, after,
        substring_index(col("g"), "-", 1), "h", Seq("n", "t"), "t")
      .orderBy("h").collect().map(_.toSeq).toSeq
    val want = down(after).orderBy("h").collect().map(_.toSeq).toSeq
    assert(got == want, s"$got != $want")
    // the x row proves the recompute: max fell 50 → 10, which only the
    // upstream re-aggregation can produce (greatest(50, …) can't fall);
    // y's interior update keeps its (1, 100) extrema on the algebraic
    // path; z proves group birth
    assert(want.find(_.head == "x").get.last == 10L,
      "fixture must retract the x group's maximum")
    assert(want.find(_.head == "y").get.last == 100L)
    // schema guard: extremum column must be a value column
    intercept[IllegalArgumentException](
      ViewDelta.cascadeAggStats(down(before), feed, after,
        substring_index(col("g"), "-", 1), "h", Seq("n", "t"), "nope"))
  }

  test("reserved/colliding column names are rejected loudly (round-11 " +
    "advisory: they used to yield silent duplicate output columns)") {
    val before = v(Seq(("a", 1L, 1L)))
    intercept[IllegalArgumentException]( // a key literally named 'op'
      ViewDelta.diff(before.withColumnRenamed("g", "op"),
        before.withColumnRenamed("g", "op"), Seq("op"), Seq("n")))
    intercept[IllegalArgumentException]( // key/value overlap
      ViewDelta.diff(before, before, Seq("g"), Seq("g", "n")))
    intercept[IllegalArgumentException]( // internal-prefix collision
      ViewDelta.diff(before.withColumnRenamed("n", "__in_before"),
        before.withColumnRenamed("n", "__in_before"),
        Seq("g"), Seq("__in_before")))
    intercept[IllegalArgumentException]( // key shaped like a value image
      ViewDelta.diff(before.withColumnRenamed("g", "old_n"),
        before.withColumnRenamed("g", "old_n"), Seq("old_n"), Seq("n")))
  }

  test("diffTouched equals the full diff when the probe covers the " +
    "change set, prunes both sides to it, and its plan carries the " +
    "semi-join witness") {
    val s = spark; import s.implicits._
    val before = v(Seq(("a", 2L, 30L), ("b", 1L, 5L), ("c", 4L, 9L),
      (null, 7L, 7L)))
    val after = v(Seq(("a", 3L, 42L), ("c", 4L, 9L), ("d", 1L, 7L),
      (null, 8L, 7L)))
    // the IVM step's honest touched set: every group either side's
    // contributions moved — a/b/d and the null group, but NOT c
    val touched = Seq(Option("a"), Option("b"), Option("d"), Option.empty[String])
      .toDF("g")
    val prunedFeed = ViewDelta.diffTouched(before, after, touched,
      Seq("g"), Seq("n", "t"))
    // value-identical to the unpruned diff (c is suppressed there too)
    val full = ViewDelta.diff(before, after, Seq("g"), Seq("n", "t"))
      .orderBy("g").collect().map(_.toSeq).toSeq
    assert(prunedFeed.orderBy("g").collect().map(_.toSeq).toSeq == full)
    // the null-keyed touched group diffs through the null-safe probe
    assert(prunedFeed
      .filter(org.apache.spark.sql.functions.col("g").isNull)
      .count() == 1)
    // witness: both sides are semi-joined before the outer diff
    val semis = prunedFeed.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semis.size == 2,
      s"expected 2 semi-join prunes, got ${semis.size}")
    // a probe that EXCLUDES a changed key prunes it from the feed (the
    // caller's contract is probe ⊇ changed set; this pins the pruning
    // is real, not a no-op)
    val partial = ViewDelta.diffTouched(before, after,
      Seq("a").toDF("g"), Seq("g"), Seq("n", "t"))
      .collect().map(r => r.getString(0)).toSeq
    assert(partial == Seq("a"))
  }
}
