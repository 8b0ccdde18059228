package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-10 operator specs: min/max IVM with the boundary-recompute
  * fallback ([[graft.cdc.IncrementalStatsView]]).
  */
class Round10OpsSpec extends SparkSpec {
  import graft.cdc.{IncrementalJoinView, IncrementalStatsView}

  private def df(rows: Seq[(Int, String, Long, String, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "op", "lsn", "g", "m")
  }

  private def viewSet(v: DataFrame): Set[(String, Long, Long, Long, Long)] =
    v.select(col("g"), col("n_members"), col("total"), col("mn"), col("mx"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet

  private def vias(v: DataFrame): Map[String, String] =
    v.select(col("g"), col("via")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  test("min/max IVM: a boundary retraction triggers a scoped recompute, " +
    "interior churn stays algebraic, and the witnesses say which was which") {
    // g=a holds {10, 50, 90}; g=b holds {5, 7, 9}; g=c holds {42}
    val snap = df(Seq(
      (1, "r", 1L, "a", 10L), (2, "r", 2L, "a", 50L), (3, "r", 3L, "a", 90L),
      (4, "r", 4L, "b", 5L), (5, "r", 5L, "b", 7L), (6, "r", 6L, "b", 9L),
      (7, "r", 7L, "c", 42L)))
    val st0 = IncrementalJoinView.sideState(snap, "id")
    val agg0 = IncrementalStatsView.bootstrap(st0, "g", "m")
    assert(viewSet(agg0) == Set(
      ("a", 3L, 150L, 10L, 90L), ("b", 3L, 21L, 5L, 9L),
      ("c", 1L, 42L, 42L, 42L)))
    // delete a's max (boundary -> recompute), update b's interior row
    // 7 -> 8 (strictly inside (5, 9) -> algebraic), insert a new b row
    // beyond the max (semilattice fold, no recompute)
    val d1 = df(Seq(
      (3, "d", 100L, null, 0L),
      (5, "u", 101L, "b", 8L),
      (8, "c", 102L, "b", 100L)))
    val (agg1, st1) = IncrementalStatsView.step(
      agg0.drop("via"), st0, d1, "id", "g", "m", "via")
    assert(viewSet(agg1) == Set(
      ("a", 2L, 60L, 10L, 50L), // recomputed: runner-up 50 is the new max
      ("b", 4L, 122L, 5L, 100L), // 5+8+9+100; max folded from insertion
      ("c", 1L, 42L, 42L, 42L)))
    assert(vias(agg1) == Map(
      "a" -> "recomputed", "b" -> "delta_applied", "c" -> "carried"))
    // the step's state must equal the full replayed reduction
    assert(viewSet(IncrementalStatsView.bootstrap(st1, "g", "m")) ==
      viewSet(agg1))
  }

  test("min/max IVM: a group move retracting the source's extremum " +
    "recomputes the source, folds into the target, and an emptied group " +
    "leaves the view") {
    val snap = df(Seq(
      (1, "r", 1L, "a", 10L), (2, "r", 2L, "a", 90L),
      (3, "r", 3L, "b", 7L)))
    val st0 = IncrementalJoinView.sideState(snap, "id")
    val agg0 = IncrementalStatsView.bootstrap(st0, "g", "m")
    // key 2 moves a -> b carrying m=90 (a loses its max: recompute;
    // b gains beyond its max: fold); key 3 deleted empties nothing here
    val d1 = df(Seq((2, "u", 100L, "b", 90L)))
    val (agg1, st1) = IncrementalStatsView.step(
      agg0.drop("via"), st0, d1, "id", "g", "m", "via")
    assert(viewSet(agg1) == Set(
      ("a", 1L, 10L, 10L, 10L), ("b", 2L, 97L, 7L, 90L)))
    assert(vias(agg1) == Map("a" -> "recomputed", "b" -> "delta_applied"))
    // now delete a's only row: count reaches 0 and the group leaves
    val d2 = df(Seq((1, "d", 200L, null, 0L)))
    val (agg2, _) = IncrementalStatsView.step(
      agg1.drop("via"), st1, d2, "id", "g", "m", "via")
    assert(viewSet(agg2) == Set(("b", 2L, 97L, 7L, 90L)))
    assert(vias(agg2) == Map("b" -> "carried"))
  }

  test("min/max IVM: duplicate extremum values — retracting one of two " +
    "copies of the minimum keeps it (the recompute path certifies the " +
    "multiplicity the algebra cannot see)") {
    val snap = df(Seq(
      (1, "r", 1L, "a", 10L), (2, "r", 2L, "a", 10L), (3, "r", 3L, "a", 50L)))
    val st0 = IncrementalJoinView.sideState(snap, "id")
    val agg0 = IncrementalStatsView.bootstrap(st0, "g", "m")
    val (agg1, _) = IncrementalStatsView.step(
      agg0.drop("via"), st0, df(Seq((1, "d", 100L, null, 0L))),
      "id", "g", "m", "via")
    assert(viewSet(agg1) == Set(("a", 2L, 60L, 10L, 50L)))
    assert(vias(agg1) == Map("a" -> "recomputed"))
  }

  test("min/max IVM equivalence: any slicing of a random delta stream " +
    "lands on the full recompute, and recomputed markers appear only " +
    "where a boundary was actually threatened") {
    for (seed <- 0 until 3) {
      val rnd = new scala.util.Random(1031L + seed)
      val keys = 1 to 40
      // keys 41/42 sit in the NULL group and 43 moves into it; the
      // update on 42 retracts that group's max (a boundary threat)
      val snap = keys.map(k =>
        (k, "r", k.toLong, s"g${k % 5}", (k * 13L) % 97L)) ++ Seq(
        (41, "r", 41L, null, 30L), (42, "r", 42L, null, 70L),
        (43, "r", 43L, "g1", 50L))
      val deltas = keys.flatMap { k =>
        rnd.nextInt(4) match {
          case 0 => Some((k, "u", 1000L + k, s"g${rnd.nextInt(5)}",
            rnd.nextInt(120).toLong))
          case 1 => Some((k, "d", 1000L + k, null.asInstanceOf[String], 0L))
          case _ => None
        }
      } ++ Seq( // fresh inserts, including a brand-new group
        (100 + seed, "c", 2000L, "g9", 500L),
        (200 + seed, "c", 2001L, s"g${seed % 5}", -17L),
        (42, "u", 3000L, null, 10L), (43, "u", 3001L, null, 90L))
      val st0 = IncrementalJoinView.sideState(df(snap), "id")
      val agg0 = IncrementalStatsView.bootstrap(st0, "g", "m")
      // single step
      val (aggSingle, stSingle) = IncrementalStatsView.step(
        agg0.drop("via"), st0, df(deltas), "id", "g", "m", "via")
      val want = viewSet(aggSingle)
      // sliced steps
      val nSlices = 2 + rnd.nextInt(2)
      val slices = deltas.groupBy(_ => rnd.nextInt(nSlices))
      var agg = agg0; var st = st0
      for (sl <- 0 until nSlices) {
        val r = IncrementalStatsView.step(agg.drop("via"), st,
          df(slices.getOrElse(sl, Nil)), "id", "g", "m", "via")
        agg = r._1; st = r._2
      }
      assert(viewSet(agg) == want, s"seed $seed ($nSlices slices)")
      // both must equal the from-scratch reduction of the replayed log
      val stAll = IncrementalJoinView.sideState(df(snap ++ deltas), "id")
      assert(viewSet(IncrementalStatsView.bootstrap(stAll, "g", "m")) == want,
        s"seed $seed: step result must equal the full recompute")
      assert(viewSet(IncrementalStatsView.bootstrap(stSingle, "g", "m")) ==
        viewSet(IncrementalStatsView.bootstrap(stAll, "g", "m")),
        s"seed $seed: maintained state must equal the replayed state")
      // witness soundness: a recomputed marker requires a retraction at
      // or beyond the pre-batch extrema of that group
      val pre = agg0.select(col("g"), col("mn"), col("mx")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val oldRows = st0.join(df(deltas).select(col("id")).distinct(),
          Seq("id"), "left_semi")
        .select(col("g"), col("m")).collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val threatened = oldRows.collect {
        case (g, m) if pre.contains(g) &&
          (m <= pre(g)._1 || m >= pre(g)._2) => g
      }.toSet
      vias(aggSingle).foreach { case (g, via) =>
        if (via == "recomputed")
          assert(threatened.contains(g),
            s"seed $seed: $g marked recomputed without a boundary threat")
        else
          assert(!threatened.contains(g) || !pre.contains(g),
            s"seed $seed: $g had a boundary threat but was marked $via")
      }
    }
  }

  private val sfAnn = "/root/testdata/sf0.001"

  test("binary quantization: packed-code XOR popcount equals the " +
    "semantic count of differing sign bits, for every query-corpus pair") {
    val vecs = graft.Tables.embeddings(spark, sfAnn).select(
      col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val codes = vecs.withColumn("code",
      expr("aggregate(sequence(0, 63), 0L, (acc, i) -> " +
        "acc | IF(element_at(v, i + 1) > 0.0D, shiftleft(1L, i), 0L))"))
    val q = codes.filter(col("vec_id") % Similarity.QueryMod === 0 &&
      col("vec_id") < Similarity.QueryCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("code").as("qcode"))
    val mismatches = q.crossJoin(
        codes.select(col("vec_id").as("cid"), col("v").as("cv"),
          col("code").as("ccode")))
      .withColumn("packed", expr("bit_count(qcode ^ ccode)"))
      .withColumn("semantic",
        aggregate(zip_with(col("qv"), col("cv"),
          (a, b) => when((a > 0d) =!= (b > 0d), 1).otherwise(0)),
          lit(0), (acc, x) => acc + x))
      .filter(col("packed") =!= col("semantic"))
    assert(mismatches.count() == 0)
  }

  test("binary-quant ANN: every returned neighbor is inside the " +
    "Hamming candidate pool, ranks are dense per query, and the exact " +
    "cosine matches brute force for shared pairs") {
    val got = Similarity.qAnnBinaryQuant(spark, sfAnn)
    val rows = got.collect()
    assert(rows.nonEmpty)
    // dense ranks 1..TopK per query
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (qid, rs) =>
      assert(rs.map(_.getInt(2)).sorted.toSeq ==
        (1 to Similarity.TopK).toSeq, s"query $qid ranks not dense")
    }
    // hamming sane
    assert(rows.forall(r => r.getInt(3) >= 0 && r.getInt(3) <= 64))
    // candidate-pool containment: recompute the top-C hamming cut
    // independently (semantic sign diff, no packing) and check every
    // returned neighbor is in it
    val vecs = graft.Tables.embeddings(spark, sfAnn).select(
      col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = vecs.filter(col("vec_id") % Similarity.QueryMod === 0 &&
      col("vec_id") < Similarity.QueryCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("h"), col("cid"))
    val pool = q.crossJoin(vecs.select(col("vec_id").as("cid"),
        col("v").as("cv")))
      .filter(col("qid") =!= col("cid"))
      .withColumn("h", aggregate(zip_with(col("qv"), col("cv"),
        (a, b) => when((a > 0d) =!= (b > 0d), 1).otherwise(0)),
        lit(0), (acc, x) => acc + x))
      .withColumn("hr", row_number().over(w))
      .filter(col("hr") <= Similarity.BqCandidates)
      .select(col("qid"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.foreach { r =>
      assert(pool.contains((r.getLong(0), r.getLong(1))),
        s"returned pair outside the Hamming pool: ${r.getLong(0)} -> " +
          s"${r.getLong(1)}")
    }
    // exact re-rank: cos_x10000 must equal brute force's for any pair
    // both return (same dot expression, same rounding)
    val bf = Similarity.qAnnBruteforce(spark, sfAnn).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    rows.foreach { r =>
      bf.get((r.getLong(0), r.getLong(1))).foreach { c =>
        assert(c == r.getLong(4), "cosine disagrees with brute force")
      }
    }
  }
}
