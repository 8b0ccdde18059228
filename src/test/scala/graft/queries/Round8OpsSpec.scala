package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Round8OpsSpec extends SparkSpec {

  test("FK (N:1) incremental join view == full recompute under RANDOM " +
    "multi-generation lifecycles: dim updates fan out to every " +
    "referencing fact, dim deletes drop them, fact fk-moves re-point " +
    "to possibly-untouched dims; refreshed/carried marker tracks the " +
    "touched-∪-fan-out frontier exactly") {
    import spark.implicits._
    import graft.cdc.{IncrementalFkJoinView, IncrementalJoinView}
    for (seed <- 0 until 3) {
      val rnd = new scala.util.Random(83L + seed)
      val fids = 1 to 40
      val pks = 1 to 8
      val Gens = 3
      // fact deltas: (fid, op, lsn, fk, payload)
      def factGen(g: Int): Seq[(Int, String, Long, Integer, String)] =
        fids.flatMap { k =>
          rnd.nextInt(8) match {
            case 5 => Some((k, "r", g * 1000L + k,
              Integer.valueOf(1 + rnd.nextInt(pks.size)), s"f-r$g-$k"))
            case 6 => Some((k, "u", g * 1000L + k,
              Integer.valueOf(1 + rnd.nextInt(pks.size)), s"f-u$g-$k"))
            case 7 => Some((k, "d", g * 1000L + k, null, null))
            case _ => None
          }
        }
      // dim deltas: (pk, op, lsn, payload) — sparse, so most facts ride
      // the carried path unless the fan-out catches them
      def dimGen(g: Int): Seq[(Int, String, Long, String)] =
        pks.flatMap { k =>
          rnd.nextInt(4) match {
            case 2 => Some((k, if (g == 0) "r" else "u", g * 1000L + k,
              s"d-$g-$k"))
            case 3 if g > 0 => Some((k, "d", g * 1000L + k, null))
            case _ =>
              if (g == 0) Some((k, "r", k.toLong, s"d-0-$k")) else None
          }
        }
      val fGens = (0 until Gens).map(factGen)
      val dGens = (0 until Gens).map(dimGen)
      def fdf(rows: Seq[(Int, String, Long, Integer, String)]) =
        rows.toDF("fid", "op", "lsn", "fk", "fv")
      def ddf(rows: Seq[(Int, String, Long, String)]) =
        rows.toDF("pk", "op", "lsn", "dv")
      var fState = IncrementalJoinView.sideState(fdf(fGens(0)), "fid")
      var dState = IncrementalJoinView.sideState(ddf(dGens(0)), "pk")
      var view = fState.drop("lsn")
        .join(dState.drop("lsn"), col("fk") === col("pk")).drop("pk")
        .select(col("fid"), col("fk"), col("fv"), col("dv"))
      // reference fold per side up to generation g (inclusive)
      def foldFact(upto: Int): Map[Int, (Int, String)] =
        fGens.take(upto + 1).flatten.groupBy(_._1).flatMap {
          case (k, rows) =>
            val w = rows.maxBy(r => (r._3, r._2))
            if (w._2 == "d") None else Some(k -> ((w._4.intValue, w._5)))
        }
      def foldDim(upto: Int): Map[Int, String] =
        dGens.take(upto + 1).flatten.groupBy(_._1).flatMap {
          case (k, rows) =>
            val w = rows.maxBy(r => (r._3, r._2))
            if (w._2 == "d") None else Some(k -> w._4)
        }
      var lastTouched = Set.empty[Int]
      for (g <- 1 until Gens) {
        // pre-batch fact state for the fan-out frontier
        val pre = foldFact(g - 1)
        val touchedDims = dGens(g).map(_._1).toSet
        lastTouched = fGens(g).map(_._1).toSet ++
          pre.collect { case (fid, (fk, _)) if touchedDims(fk) => fid }
        val (v2, f2, d2) = IncrementalFkJoinView.step(view, fState, dState,
          fdf(fGens(g)), ddf(dGens(g)), "fid", "fk", "pk", "via")
        view = v2; fState = f2; dState = d2
      }
      val got = view.collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getString(2),
          r.getString(3), r.getString(4))).toSet
      val ff = foldFact(Gens - 1); val fd = foldDim(Gens - 1)
      val want = fids.flatMap(fid =>
        for ((fk, fv) <- ff.get(fid); dv <- fd.get(fk))
          yield (fid, fk, fv, dv,
            if (lastTouched(fid)) "refreshed" else "carried")).toSet
      assert(got == want, s"seed $seed:\n got=${got.toSeq.sortBy(_.toString)}\n" +
        s"want=${want.toSeq.sortBy(_.toString)}")
      assert(got.exists(_._5 == "carried") && got.exists(_._5 == "refreshed"),
        s"seed $seed: fixture must exercise both maintenance paths")
    }
  }

  test("FK view fan-out surgical cases: one dim update rewrites ALL " +
    "referencing view rows, one dim delete drops them all, a fact " +
    "fk-move lands on an untouched dim read from the carried state") {
    import spark.implicits._
    import graft.cdc.{IncrementalFkJoinView, IncrementalJoinView}
    // 6 facts over 3 dims; dim 1 updated, dim 2 deleted, dim 3 untouched
    val f1 = Seq((1, "r", 1L, 1, "a"), (2, "r", 2L, 1, "b"),
      (3, "r", 3L, 2, "c"), (4, "r", 4L, 2, "d"),
      (5, "r", 5L, 3, "e"), (6, "r", 6L, 3, "f"))
      .toDF("fid", "op", "lsn", "fk", "fv")
    val d1 = Seq((1, "r", 1L, "X"), (2, "r", 2L, "Y"), (3, "r", 3L, "Z"))
      .toDF("pk", "op", "lsn", "dv")
    val fS = IncrementalJoinView.sideState(f1, "fid")
    val dS = IncrementalJoinView.sideState(d1, "pk")
    val v1 = fS.drop("lsn").join(dS.drop("lsn"), col("fk") === col("pk"))
      .drop("pk").select(col("fid"), col("fk"), col("fv"), col("dv"))
    // gen 2: dim 1 → X', dim 2 deleted; fact 5 re-points to dim 1
    val f2 = Seq((5, "u", 100L, Integer.valueOf(1), "e2"))
      .toDF("fid", "op", "lsn", "fk", "fv")
    val d2 = Seq((1, "u", 101L, "X2"), (2, "d", 102L, null))
      .toDF("pk", "op", "lsn", "dv")
    val (v2, _, _) = IncrementalFkJoinView.step(
      v1, fS, dS, f2, d2, "fid", "fk", "pk", "via")
    val got = v2.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3),
        r.getString(4))).toSet
    assert(got == Set(
      (1, 1, "a", "X2", "refreshed"), // fan-out: dim-1 update, fact rows
      (2, 1, "b", "X2", "refreshed"), //   1 and 2 rewritten
      // facts 3 and 4: dim-2 delete drops both view rows
      (5, 1, "e2", "X2", "refreshed"), // fk-move onto the updated dim
      (6, 3, "f", "Z", "carried")), // untouched fact on untouched dim
      s"got=$got")
  }

  test("k-means clustering partitions the corpus deterministically: " +
    "assignments cover every vector exactly once, sizes are consistent, " +
    "and a re-run is bit-identical") {
    val d = "/root/testdata/sf0.001"
    val r1 = graft.queries.Similarity.qKmeansCluster(spark, d).collect()
    val r2 = graft.queries.Similarity.qKmeansCluster(spark, d).collect()
    assert(r1.toSeq == r2.toSeq, "k-means must be deterministic")
    assert(r1.map(_.getLong(0)).distinct.length == 500 && r1.length == 500,
      "every vector assigned exactly once")
    val byCluster = r1.groupBy(_.getInt(1))
    assert(byCluster.keys.forall(k => k >= 0 && k < 8))
    byCluster.foreach { case (_, rows) =>
      assert(rows.forall(_.getLong(3) == rows.length),
        "cluster_size must equal the actual member count")
    }
    assert(r1.forall(_.getLong(2) >= 0L), "squared distances non-negative")
  }

  test("FK IVM batching CONFLUENCE: splitting one delta batch into " +
    "random sequential micro-batches converges to the same view and " +
    "states as the single batch (the property the streaming drive " +
    "relies on): max-lsn reduction is batching-invariant, and the " +
    "fan-out of a later slice probes the post-slice fact state " +
    "correctly even when an earlier slice moved fks or revived dims") {
    import spark.implicits._
    import graft.cdc.{IncrementalFkJoinView, IncrementalJoinView}
    for (seed <- 0 until 3) {
      val rnd = new scala.util.Random(211L + seed)
      val fids = 1 to 30
      val pks = 1 to 6
      // generation 0: full snapshots
      val f0 = fids.map(k => (k, "r", k.toLong,
        Integer.valueOf(1 + rnd.nextInt(pks.size)), s"f0-$k"))
      val d0 = pks.map(k => (k, "r", k.toLong, s"d0-$k"))
      // generation 1: a dense mixed batch (updates, deletes, revives —
      // including the adversarial orders: delete a dim in one slice,
      // revive it in a later one; re-point a fact then update its dim)
      val f1 = fids.flatMap { k =>
        rnd.nextInt(4) match {
          case 2 => Some((k, "u", 1000L + k,
            Integer.valueOf(1 + rnd.nextInt(pks.size)), s"f1-$k"))
          case 3 => Some((k, "d", 1000L + k, null, null))
          case _ => None
        }
      }
      val d1 = pks.flatMap { k =>
        rnd.nextInt(3) match {
          case 1 => Some((k, "u", 1000L + k, s"d1-$k"))
          case 2 => Some((k, "d", 1000L + k, null))
          case _ => None
        }
      } ++ pks.flatMap(k => // occasional second event per dim (revive)
        if (rnd.nextInt(4) == 0) Some((k, "u", 2000L + k, s"d2-$k"))
        else None)
      def fdf(rows: Seq[(Int, String, Long, Integer, String)]) =
        rows.toDF("fid", "op", "lsn", "fk", "fv")
      def ddf(rows: Seq[(Int, String, Long, String)]) =
        rows.toDF("pk", "op", "lsn", "dv")
      val fS0 = IncrementalJoinView.sideState(fdf(f0), "fid")
      val dS0 = IncrementalJoinView.sideState(ddf(d0), "pk")
      val v0 = fS0.drop("lsn")
        .join(dS0.drop("lsn"), col("fk") === col("pk")).drop("pk")
        .select(col("fid"), col("fk"), col("fv"), col("dv"))
      def viewSet(v: org.apache.spark.sql.DataFrame): Set[(Int, Int, String, String)] =
        v.select(col("fid"), col("fk"), col("fv"), col("dv")).collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getString(2),
            r.getString(3))).toSet
      // single-batch application
      val (vSingle, _, _) = IncrementalFkJoinView.step(
        v0, fS0, dS0, fdf(f1), ddf(d1), "fid", "fk", "pk", "via")
      val wantView = viewSet(vSingle)
      // random split into 2-3 sequential slices (events stay ordered
      // per key by lsn because slices are assigned by coin flip and the
      // reduction is max-lsn — order WITHIN the union is irrelevant)
      val nSlices = 2 + rnd.nextInt(2)
      val fSlices = f1.groupBy(_ => rnd.nextInt(nSlices))
      val dSlices = d1.groupBy(_ => rnd.nextInt(nSlices))
      var view = v0; var fS = fS0; var dS = dS0
      for (sl <- 0 until nSlices) {
        val r = IncrementalFkJoinView.step(view.drop("via"), fS, dS,
          fdf(fSlices.getOrElse(sl, Nil)), ddf(dSlices.getOrElse(sl, Nil)),
          "fid", "fk", "pk", "via")
        view = r._1; fS = r._2; dS = r._3
      }
      assert(viewSet(view) == wantView,
        s"seed $seed ($nSlices slices):\n sliced=${viewSet(view).toSeq.sortBy(_.toString)}\n single=${wantView.toSeq.sortBy(_.toString)}")
      // and both equal the full recompute from folded deltas
      val fAll = IncrementalJoinView.sideState(fdf(f0 ++ f1), "fid")
      val dAll = IncrementalJoinView.sideState(ddf(d0 ++ d1), "pk")
      val vRecompute = fAll.drop("lsn")
        .join(dAll.drop("lsn"), col("fk") === col("pk")).drop("pk")
        .select(col("fid"), col("fk"), col("fv"), col("dv"))
      assert(viewSet(view) == viewSet(vRecompute),
        s"seed $seed: sliced result must equal the full recompute")
    }
  }

  test("incremental SCD2 == full-recompute history under random " +
    "multi-generation lifecycles INCLUDING late events: an " +
    "out-of-order lsn splices into its true position and the touched " +
    "key's versions/intervals renumber; untouched keys carry verbatim") {
    import spark.implicits._
    import graft.cdc.IncrementalScd2
    for (seed <- 0 until 3) {
      val rnd = new scala.util.Random(307L + seed)
      val keys = 1 to 20
      val Gens = 3
      // per gen, each key gets 0-2 events whose lsn BASES deliberately
      // overlap across generations (gen g draws from [g*10, g*10+25))
      // so later batches contain events older than already-applied
      // ones; the (base, key, gen) encoding makes every lsn unique by
      // construction — no dedup, so both compute paths see the exact
      // same event set
      def gen(g: Int): Seq[(Int, String, Long, String)] =
        keys.flatMap { k =>
          val bases = Seq.fill(rnd.nextInt(3))(g * 10 + rnd.nextInt(25))
            .distinct
          bases.map { b =>
            val op = Seq("r", "u", "d")(rnd.nextInt(3))
            (k, op, (b * 100L + k) * 10L + g, s"$op$g-$b-$k")
          }
        }
      val gens = (0 until Gens).map(gen)
      def edf(rows: Seq[(Int, String, Long, String)]) =
        rows.toDF("id", "op", "lsn", "name")
      var hist = IncrementalScd2.fromEvents(edf(gens(0)))
        .select(col("id"), col("version"), col("op"), col("name"),
          col("valid_from_lsn"), col("valid_to_lsn"), col("is_current"))
      var lastTouched = Set.empty[Int]
      for (g <- 1 until Gens) {
        hist = IncrementalScd2.step(hist.drop("via"), edf(gens(g)), "via")
        lastTouched = gens(g).map(_._1).toSet
      }
      val got = hist.collect().map(r => (r.getInt(0), r.getInt(1),
        r.getString(2), r.getString(3), r.getLong(4), r.getLong(5),
        r.getBoolean(6), r.getString(7))).toSet
      // reference: recompute over the union of all generations (every
      // lsn unique by construction, so the union IS the event set)
      val allEvents = (0 until Gens).map(g => edf(gens(g)))
        .reduce((a, b) => a.unionByName(b))
      val want = IncrementalScd2.fromEvents(allEvents)
        .select(col("id"), col("version"), col("op"), col("name"),
          col("valid_from_lsn"), col("valid_to_lsn"), col("is_current"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2),
          r.getString(3), r.getLong(4), r.getLong(5), r.getBoolean(6),
          if (lastTouched(r.getInt(0))) "refreshed" else "carried")).toSet
      assert(got == want, s"seed $seed:\n got=${got.toSeq.sortBy(_.toString)}\n" +
        s"want=${want.toSeq.sortBy(_.toString)}")
    }
  }

  test("agg-view batching CONFLUENCE: the property q_cdc_stream_ivm " +
    "relies on — one delta batch applied as random sequential " +
    "micro-batch slices lands on the same aggregate as the single " +
    "step and the full recompute, including group moves and deletes " +
    "split across slices") {
    import spark.implicits._
    import graft.cdc.{IncrementalAggView, IncrementalJoinView}
    // the last input also starts keys in, and moves keys into, the NULL
    // group (GroupDelta matches groups null-safely)
    for (seed <- 0 until 4) {
      def group(i: Int): String = if (seed == 3 && i == 0) null else s"g$i"
      val rnd = new scala.util.Random(223L + seed)
      val keys = 1 to 30
      val a0 = keys.map(k => (k, "r", k.toLong, group(k % 4)))
      val b0 = keys.map(k => (k, "r", k.toLong, (k * 10L).toString))
      val a1 = keys.flatMap { k =>
        rnd.nextInt(4) match {
          case 2 => Some((k, "u", 1000L + k, group(rnd.nextInt(4))))
          case 3 => Some((k, "d", 1000L + k, null))
          case _ => None
        }
      }
      val b1 = keys.flatMap { k =>
        rnd.nextInt(4) match {
          case 2 => Some((k, "u", 1000L + k, (k * 10L + 7).toString))
          case 3 => Some((k, "d", 1000L + k, null))
          case _ => None
        }
      }
      def adf(rows: Seq[(Int, String, Long, String)]) =
        rows.toDF("id", "op", "lsn", "g")
      def bdf(rows: Seq[(Int, String, Long, String)]) =
        rows.toDF("id", "op", "lsn", "mstr")
          .withColumn("m", col("mstr").cast("long")).drop("mstr")
      val aS0 = IncrementalJoinView.sideState(adf(a0), "id")
      val bS0 = IncrementalJoinView.sideState(bdf(b0), "id")
      val agg0 = IncrementalAggView.bootstrap(aS0, bS0, "id", "g", "m")
      def aggSet(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
        df.select(col("g"), col("n_members"), col("total")).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val (aggSingle, _, _) = IncrementalAggView.step(agg0, aS0, bS0,
        adf(a1), bdf(b1), "id", "g", "m", "via")
      val want = aggSet(aggSingle)
      val nSlices = 2 + rnd.nextInt(2)
      val aSl = a1.groupBy(_ => rnd.nextInt(nSlices))
      val bSl = b1.groupBy(_ => rnd.nextInt(nSlices))
      var agg = agg0; var aS = aS0; var bS = bS0
      for (sl <- 0 until nSlices) {
        val r = IncrementalAggView.step(agg.drop("via"), aS, bS,
          adf(aSl.getOrElse(sl, Nil)), bdf(bSl.getOrElse(sl, Nil)),
          "id", "g", "m", "via")
        agg = r._1; aS = r._2; bS = r._3
      }
      assert(aggSet(agg) == want,
        s"seed $seed ($nSlices slices):\n sliced=${aggSet(agg).toSeq.sortBy(_.toString)}\n single=${want.toSeq.sortBy(_.toString)}")
      val aAll = IncrementalJoinView.sideState(adf(a0 ++ a1), "id")
      val bAll = IncrementalJoinView.sideState(bdf(b0 ++ b1), "id")
      assert(aggSet(agg) ==
        aggSet(IncrementalAggView.bootstrap(aAll, bAll, "id", "g", "m")),
        s"seed $seed: sliced result must equal the full recompute")
    }
  }

  test("agg-view NULL group: a balance update on a NULL-g key and a key " +
    "moving into the NULL group land in ONE maintained NULL row equal " +
    "to the recompute, marked delta_applied and inside the touched probe") {
    import spark.implicits._
    import graft.cdc.{IncrementalAggView, IncrementalJoinView}
    def adf(rows: (Int, String, Long, String)*) =
      rows.toDF("id", "op", "lsn", "g")
    def bdf(rows: (Int, String, Long, Long)*) =
      rows.toDF("id", "op", "lsn", "m")
    val a0 = adf((1, "r", 1L, null), (2, "r", 2L, null), (3, "r", 3L, "g1"),
      (4, "r", 4L, "g2"))
    val b0 = bdf((1, "r", 1L, 10L), (2, "r", 2L, 20L), (3, "r", 3L, 30L),
      (4, "r", 4L, 40L))
    val a1 = adf((3, "u", 10L, null)) // key 3 moves g1 -> NULL
    val b1 = bdf((1, "u", 11L, 15L)) // NULL-group key 1: 10 -> 15
    val aS0 = IncrementalJoinView.sideState(a0, "id")
    val bS0 = IncrementalJoinView.sideState(b0, "id")
    val agg0 = IncrementalAggView.bootstrap(aS0, bS0, "id", "g", "m")
    def rows(df: org.apache.spark.sql.DataFrame)
        : Set[(Option[String], Long, Long)] =
      df.select(col("g"), col("n_members"), col("total")).collect()
        .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    val recompute = IncrementalAggView.bootstrap(
      IncrementalJoinView.sideState(a0.unionByName(a1), "id"),
      IncrementalJoinView.sideState(b0.unionByName(b1), "id"),
      "id", "g", "m")
    assert(rows(recompute) == Set((None, 3L, 65L), (Some("g2"), 1L, 40L)))
    val (agg1, _, _) = IncrementalAggView.step(agg0, aS0, bS0, a1, b1,
      "id", "g", "m", "via")
    assert(rows(agg1) == rows(recompute))
    assert(agg1.filter(col("g").isNull).select("via").as[String].collect()
      .toSeq == Seq("delta_applied"))
    val (aggT, _, _, touched) = IncrementalAggView.stepWithTouched(agg0,
      aS0, bS0, a1, b1, "id", "g", "m", "via")
    assert(rows(aggT) == rows(recompute))
    assert(touched.collect().map(r => Option(r.getString(0))).toSet ==
      Set(None, Some("g1")))
  }

  test("legacy watermark promotion is bounded below by the max fence " +
    "encoded in committed data file names: a torn lower prefix promotes " +
    "to the substantiated fence; a higher parsed value (dataless " +
    "commits) wins unchanged") {
    import graft.cdc.JdbcIncremental
    val dir = tmpDir("wm-bound")
    val p = java.nio.file.Paths.get(dir)
    def write(n: String, s: String): Unit =
      java.nio.file.Files.write(p.resolve(n), s.getBytes)
    def del(n: String): Unit = {
      java.nio.file.Files.deleteIfExists(p.resolve(n))
      java.nio.file.Files.deleteIfExists(p.resolve(s".$n.crc"))
    }
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val hp = new org.apache.hadoop.fs.Path(dir)
    // committed snapshot + poll files fence the log at 40
    write("a000000000000-000000000025-p00000.jsonl", "{}")
    write("c000000000025-000000000040-p00000.jsonl", "{}")
    write("_watermark_next", "12") // torn prefix of a larger value
    JdbcIncremental.repairInterruptedCommit(f, hp)
    assert(JdbcIncremental.lastWatermark(spark, dir).contains(40L),
      "promotion must rise to the max committed fence")
    // a parsed value ABOVE every fence is legitimate (dataless poll
    // commits advance the watermark without data files) — kept as-is
    del("_watermark"); del("_watermark_next")
    write("_watermark_next", "77")
    JdbcIncremental.repairInterruptedCommit(f, hp)
    assert(JdbcIncremental.lastWatermark(spark, dir).contains(77L),
      "a parsed value above the fences must win unchanged")
  }

  test("MinLabelComponents reclaims superseded reliable-checkpoint " +
    "generations: after convergence only the FINAL generation's rdd " +
    "dir remains under the checkpoint dir, and labels equal the " +
    "local-fallback run") {
    import spark.implicits._
    import org.apache.spark.GraftSparkInternals
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty,
      "spec session must start on the local-fallback branch")
    // a path graph (diameter 6 → several iterations) plus singletons
    val nodes = (1 to 12).toDF("n")
    val edges = (1 to 6).map(i => (i, i + 1)).toDF("a", "b")
    def run(): Set[(Int, Int)] =
      graft.operators.MinLabelComponents
        .components(nodes, edges, "n", "a", "b")
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val localRes = run()
    val want = ((1 to 7).map(i => (i, 1)) ++
      (8 to 12).map(i => (i, i))).toSet
    assert(localRes == want, s"got=$localRes")
    val dir = tmpDir("minlabel-ckpt")
    sc.setCheckpointDir(dir)
    try {
      assert(run() == want, "reliable-checkpoint run must be identical")
      def rddDirs(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles).toSeq.flatten.flatMap { c =>
          (if (c.isDirectory && c.getName.startsWith("rdd-")) Seq(c)
           else Nil) ++ (if (c.isDirectory) rddDirs(c) else Nil)
        }
      val remaining = rddDirs(new java.io.File(dir))
      assert(remaining.size == 1,
        s"superseded generations must be deleted on rotation; " +
          s"found ${remaining.map(_.getName)}")
    } finally GraftSparkInternals.setCheckpointDirRaw(sc, None)
    assert(sc.getCheckpointDir.isEmpty, "shared session state restored")
  }

  test("FK aggregate view == full recompute under RANDOM multi-" +
    "generation lifecycles: dim group-attribute rewrites move every " +
    "referencing fact's contribution, dim deletes retract them, fact " +
    "fk-moves/deletes move/retract single contributions; the " +
    "delta_applied marker tracks the retraction∪insertion groups") {
    import spark.implicits._
    import graft.cdc.{IncrementalFkAggView, IncrementalJoinView}
    for (seed <- 0 until 3) {
      val rnd = new scala.util.Random(157L + seed)
      val fids = 1 to 40
      val pks = 1 to 8
      val Gens = 3
      def factGen(g: Int): Seq[(Int, String, Long, Integer, Long)] =
        fids.flatMap { k =>
          rnd.nextInt(8) match {
            case 5 => Some((k, "r", g * 1000L + k,
              Integer.valueOf(1 + rnd.nextInt(pks.size)),
              (rnd.nextInt(100) + 1).toLong))
            case 6 => Some((k, "u", g * 1000L + k,
              Integer.valueOf(1 + rnd.nextInt(pks.size)),
              (rnd.nextInt(100) + 1).toLong))
            case 7 => Some((k, "d", g * 1000L + k, null, 0L))
            case _ => None
          }
        }
      // dim groups drawn from a tiny label set so group COLLISIONS and
      // MOVES both occur; sparse deltas keep carried groups alive
      def dimGen(g: Int): Seq[(Int, String, Long, String)] =
        pks.flatMap { k =>
          rnd.nextInt(4) match {
            case 2 => Some((k, if (g == 0) "r" else "u", g * 1000L + k,
              s"g${rnd.nextInt(3)}"))
            case 3 if g > 0 => Some((k, "d", g * 1000L + k, null))
            case _ =>
              if (g == 0) Some((k, "r", k.toLong, s"g${rnd.nextInt(3)}"))
              else None
          }
        }
      val fGens = (0 until Gens).map(factGen)
      val dGens = (0 until Gens).map(dimGen)
      def fdf(rows: Seq[(Int, String, Long, Integer, Long)]) =
        rows.toDF("fid", "op", "lsn", "fk", "m")
      def ddf(rows: Seq[(Int, String, Long, String)]) =
        rows.toDF("pk", "op", "lsn", "grp")
      var fState = IncrementalJoinView.sideState(fdf(fGens(0)), "fid")
      var dState = IncrementalJoinView.sideState(ddf(dGens(0)), "pk")
      var agg = IncrementalFkAggView.bootstrap(fState, dState,
        "fid", "fk", "pk", "grp", "m")
      def foldFact(upto: Int): Map[Int, (Int, Long)] =
        fGens.take(upto + 1).flatten.groupBy(_._1).flatMap {
          case (k, rows) =>
            val w = rows.maxBy(r => (r._3, r._2))
            if (w._2 == "d") None else Some(k -> ((w._4.intValue, w._5)))
        }
      def foldDim(upto: Int): Map[Int, String] =
        dGens.take(upto + 1).flatten.groupBy(_._1).flatMap {
          case (k, rows) =>
            val w = rows.maxBy(r => (r._3, r._2))
            if (w._2 == "d") None else Some(k -> w._4)
        }
      var lastTouchedGroups = Set.empty[String]
      for (g <- 1 until Gens) {
        val preF = foldFact(g - 1); val preD = foldDim(g - 1)
        val postF = foldFact(g); val postD = foldDim(g)
        val touchedDims = dGens(g).map(_._1).toSet
        val touchedFacts = fGens(g).map(_._1).toSet ++
          preF.collect { case (fid, (fk, _)) if touchedDims(fk) => fid }
        lastTouchedGroups =
          touchedFacts.flatMap(f => preF.get(f)
            .flatMap { case (fk, _) => preD.get(fk) }) ++
          touchedFacts.flatMap(f => postF.get(f)
            .flatMap { case (fk, _) => postD.get(fk) })
        val r = IncrementalFkAggView.step(agg.drop("via"), fState, dState,
          fdf(fGens(g)), ddf(dGens(g)), "fid", "fk", "pk", "grp", "m",
          "via")
        agg = r._1; fState = r._2; dState = r._3
      }
      val got = agg.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSet
      val ff = foldFact(Gens - 1); val fd = foldDim(Gens - 1)
      val want = ff.toSeq
        .flatMap { case (_, (fk, m)) => fd.get(fk).map(g => (g, m)) }
        .groupBy(_._1).map { case (g, rows) =>
          (g, rows.size.toLong, rows.map(_._2).sum,
            if (lastTouchedGroups(g)) "delta_applied" else "carried")
        }.toSet
      assert(got == want, s"seed $seed:\n got=${got.toSeq.sorted}\n" +
        s"want=${want.toSeq.sorted}")
    }
  }

  test("schema drift through IVM: a delta batch that ADDS a column " +
    "widens state and view with NULL backfill; a later delta WITHOUT " +
    "the column nulls it on its winners; pre-drift rows never see it") {
    import spark.implicits._
    import graft.cdc.IncrementalJoinView
    val a1 = Seq((1, "r", 1L, "a1"), (2, "r", 2L, "a2"), (3, "r", 3L, "a3"))
      .toDF("id", "op", "lsn", "va")
    val b1 = Seq((1, "r", 1L, 10L), (2, "r", 2L, 20L), (3, "r", 3L, 30L))
      .toDF("id", "op", "lsn", "vb")
    var aS = IncrementalJoinView.sideState(a1, "id")
    var bS = IncrementalJoinView.sideState(b1, "id")
    var view = aS.drop("lsn").join(bS.drop("lsn"), "id")
      .select(col("id"), col("va"), col("vb"))
    // gen 2: A gains `tier`; key 1 updated with it, key 2 only via B
    val a2 = Seq((1, "u", 100L, "a1x", "gold"))
      .toDF("id", "op", "lsn", "va", "tier")
    val b2 = Seq((2, "u", 101L, 21L)).toDF("id", "op", "lsn", "vb")
    val s2 = IncrementalJoinView.step(view, aS, bS, a2, b2, "id", "via")
    view = s2._1; aS = s2._2; bS = s2._3
    assert(view.columns.toSeq == Seq("id", "va", "vb", "tier", "via"))
    val got2 = view.collect().map(r => (r.getInt(0), r.getString(1),
      r.getLong(2), Option(r.getString(3)), r.getString(4))).toSet
    assert(got2 == Set(
      (1, "a1x", 10L, Some("gold"), "refreshed"),
      (2, "a2", 21L, None, "refreshed"), // B-touched: widened, NULL
      (3, "a3", 30L, None, "carried")), s"got=$got2") // NULL backfill
    // gen 3: key 3 updated by a delta WITHOUT the drift column — the
    // new image lacks it, so its tier nulls; key 1 carries 'gold'
    val a3 = Seq((3, "u", 200L, "a3x")).toDF("id", "op", "lsn", "va")
    val b3 = spark.emptyDataset[(Int, String, Long, Long)]
      .toDF("id", "op", "lsn", "vb")
    val s3 = IncrementalJoinView.step(view.drop("via"), aS, bS, a3, b3,
      "id", "via")
    val got3 = s3._1.collect().map(r => (r.getInt(0), r.getString(1),
      r.getLong(2), Option(r.getString(3)), r.getString(4))).toSet
    assert(got3 == Set(
      (1, "a1x", 10L, Some("gold"), "carried"),
      (2, "a2", 21L, None, "carried"),
      (3, "a3x", 30L, None, "refreshed")), s"got=$got3")
  }

  test("FK view: fact insert referencing an UNTOUCHED dim joins against " +
    "the carried dim state (the rebuild must read post-batch state, " +
    "not just refreshed dim rows)") {
    import spark.implicits._
    import graft.cdc.{IncrementalFkJoinView, IncrementalJoinView}
    val f1 = Seq((1, "r", 1L, 1, "a")).toDF("fid", "op", "lsn", "fk", "fv")
    val d1 = Seq((1, "r", 1L, "X"), (2, "r", 2L, "Y"))
      .toDF("pk", "op", "lsn", "dv")
    val fS = IncrementalJoinView.sideState(f1, "fid")
    val dS = IncrementalJoinView.sideState(d1, "pk")
    val v1 = fS.drop("lsn").join(dS.drop("lsn"), col("fk") === col("pk"))
      .drop("pk").select(col("fid"), col("fk"), col("fv"), col("dv"))
    // new fact 2 references dim 2, which no delta touches
    val f2 = Seq((2, "c", 100L, 2, "b")).toDF("fid", "op", "lsn", "fk", "fv")
    val d2 = spark.emptyDataset[(Int, String, Long, String)]
      .toDF("pk", "op", "lsn", "dv")
    val (v2, _, _) = IncrementalFkJoinView.step(
      v1, fS, dS, f2, d2, "fid", "fk", "pk", "via")
    val got = v2.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getString(3),
        r.getString(4))).toSet
    assert(got == Set(
      (1, 1, "a", "X", "carried"),
      (2, 2, "b", "Y", "refreshed")), s"got=$got")
  }

  test("k-core h-operator: wherever the gate reports converged, core " +
    "equals the sequential Batagelj–Zaveršnik peel's coreness; " +
    "everywhere core is a monotone upper bound ≤ degree; the trade " +
    "graph's coreness is non-degenerate") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.queries.Graph.qKcore(spark, d).collect()
      .map { r =>
        val label = r.getAs[String]("node")
        val id = label.drop(1).toLong * 2 + (if (label.head == 's') 1 else 0)
        (id, r.getAs[Number]("degree").longValue,
          r.getAs[Number]("core").longValue,
          r.getAs[Boolean]("converged"))
      }
    // reference: rebuild the same trade graph and peel it sequentially
    // (min-degree removal; coreness = running max of removal-time degree)
    val edges = spark.read.parquet(s"$d/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(spark.read.parquet(s"$d/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2L).as("a"),
        (col("l_suppkey") * 2L + 1L).as("b"))
      .distinct().collect()
      .map(r => (r.getAs[Number]("a").longValue,
        r.getAs[Number]("b").longValue))
    val adj = collection.mutable.Map.empty[Long, collection.mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, collection.mutable.Set.empty) += a
    }
    val degRef = collection.mutable.Map(
      adj.map { case (k, v) => k -> v.size.toLong }.toSeq: _*)
    val alive = collection.mutable.Set(adj.keys.toSeq: _*)
    val coreRef = collection.mutable.Map.empty[Long, Long]
    var k = 0L
    while (alive.nonEmpty) {
      val v = alive.minBy(n => (degRef(n), n))
      k = math.max(k, degRef(v))
      coreRef(v) = k
      alive -= v
      adj(v).foreach(u => if (alive(u)) degRef(u) -= 1)
    }
    assert(rows.length == adj.size, "one output row per graph node")
    assert(rows.map(_._3).distinct.length > 1 &&
      rows.exists(r => r._3 < r._2),
      "coreness must be non-degenerate (not just degree) at sf0.001")
    // converged is a GLOBAL fixpoint witness: identical on every row,
    // and a true flag proves EVERY value is the exact coreness (a
    // per-node plateau proves nothing — review finding, round 8)
    assert(rows.map(_._4).distinct.length == 1,
      "converged must be the same global flag on every row")
    val converged = rows.head._4
    assert(converged,
      "six rounds must reach the fixpoint on the sf0.001 trade graph")
    rows.foreach { case (id, deg, core, _) =>
      val ref = coreRef(id)
      assert(core <= deg, s"node $id: core $core > degree $deg")
      assert(core >= ref,
        s"node $id: h-operator value $core below true coreness $ref")
      if (converged)
        assert(core == ref,
          s"node $id: global fixpoint but core $core != coreness $ref")
    }
  }

  test("DSIR importance resampling: exactly ⌊N/4⌋ docs selected, the " +
    "selected set strictly dominates under (score DESC, doc_id), and " +
    "the target (en) slice scores higher on average than the rest") {
    val rows = graft.queries.Curation
      .qDsirSample(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getAs[Number]("doc_id").longValue,
        r.getAs[String]("lang"),
        r.getAs[Number]("score_scaled").longValue,
        r.getAs[Boolean]("selected")))
    val n = rows.length
    val sel = rows.filter(_._4)
    assert(sel.length == n / 4, s"selected ${sel.length} of $n")
    // total order: (−score, doc_id) ascending = (score DESC, doc_id)
    val worstSel = sel.map(r => (-r._3, r._1)).max
    rows.filterNot(_._4).foreach { r =>
      assert(Ordering[(Long, Long)].gt((-r._3, r._1), worstSel),
        s"unselected doc ${r._1} outranks a selected one")
    }
    val en = rows.filter(_._2 == "en").map(_._3)
    val rest = rows.filter(_._2 != "en").map(_._3)
    assert(en.nonEmpty && rest.nonEmpty)
    assert(en.sum * rest.length > rest.sum * en.length,
      "importance weights must tilt toward the target slice")
  }

  test("IVF-PQ: every returned neighbor lives in one of its query's " +
    "probed cells (the inverted-file contract), exactly TopK rows per " +
    "query, re-runs bit-identical, and recall@5 vs exact cosine clears " +
    "the floor") {
    val d = "/root/testdata/sf0.001"
    val S = graft.queries.Similarity
    val r1 = S.qAnnIvfpq(spark, d).collect()
    val r2 = S.qAnnIvfpq(spark, d).collect()
    assert(r1.toSeq == r2.toSeq, "IVF-PQ must be deterministic")
    // independent re-derivation of cells and probes: the gate's own
    // quantization expression (Spark round semantics), then pure-Scala
    // integer L2 assignment
    val qvs = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"),
        x => round(x.cast("double") * 10000).cast("long")).as("q"))
      .collect()
      .map(r => r.getAs[Number]("vec_id").longValue ->
        r.getSeq[Long](1).toArray).toMap
    val pivots = qvs.keys.toSeq.sorted
      .filter(id => id % S.PivotMod == 0 && id < S.PivotCap)
      .map(qvs)
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def rankedCells(q: Array[Long]): Seq[Int] =
      pivots.zipWithIndex.map { case (pv, p) => (l2(q, pv), p) }
        .sorted.map(_._2)
    val cellOf = qvs.map { case (id, q) => id -> rankedCells(q).head }
    val byQuery = r1.groupBy(_.getAs[Number]("query_id").longValue)
    assert(byQuery.values.forall(_.length == S.TopK),
      "TopK rows per query")
    byQuery.foreach { case (qid, rows) =>
      val probed = rankedCells(qvs(qid)).take(S.NProbe).toSet
      rows.foreach { r =>
        val nid = r.getAs[Number]("neighbor_id").longValue
        assert(probed(cellOf(nid)),
          s"neighbor $nid of query $qid outside probed cells $probed")
      }
    }
    // recall@5 vs exact cosine (measured 0.275 at sf0.001; floor leaves
    // slack for testdata regeneration, not for a broken index)
    val vs = qvs.map { case (id, q) => id -> q.map(_.toDouble / 10000d) }
    def cos(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    val truth = byQuery.keys.flatMap { qid =>
      vs.keys.filter(_ != qid).toSeq
        .map(nid => (cos(vs(qid), vs(nid)), nid))
        .sortBy { case (c, nid) => (-c, nid) }.take(S.TopK)
        .map { case (_, nid) => (qid, nid) }
    }.toSet
    val got = r1.map(r => (r.getAs[Number]("query_id").longValue,
      r.getAs[Number]("neighbor_id").longValue)).toSet
    val recall = (truth & got).size.toDouble / truth.size
    assert(recall >= 0.15, s"IVF-PQ recall@5 $recall below floor")
  }

  test("dimension-ablation recall: one row per (prefix, query), the " +
    "full-dimension arm is its own truth (recall 1.0), truncated " +
    "prefixes lose recall on this non-truncatable corpus") {
    val S = graft.queries.Similarity
    val rows = S.qAnnDimAblation(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getInt(0), r.getAs[Number](1).longValue,
        r.getLong(2), r.getLong(3)))
    val dims = S.AblationDims
    assert(rows.length == dims.length * S.MaxQueries)
    assert(rows.groupBy(_._1).keySet == dims.toSet)
    rows.filter(_._1 == dims.last).foreach { r =>
      assert(r._3 == S.TopK && r._4 == 10000L,
        s"full-dim arm must be its own truth: $r")
    }
    val meanAt = rows.groupBy(_._1).view
      .mapValues(rs => rs.map(_._4).sum / rs.length).toMap
    assert(meanAt(dims.head) < meanAt(dims.last),
      "truncation must cost recall on an isotropic corpus")
  }

  test("bitemporal lookup revises history only past the correction's " +
    "knowledge horizon: %4 keys change their snapshot-era belief " +
    "between T1 and T2, %3 keys' update wins the valid axis at T2, " +
    "untouched keys read identically on every axis") {
    val rows = graft.queries.Cdc
      .qCdcBitemporal(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, v1t1, v1t2, v2t2) =>
      // pre-correction knowledge never shows corrected text
      assert(!v1t1.endsWith("(corrected)"), s"$id: T1 belief leaked")
      if (id % 4 == 0)
        assert(v1t2 == s"$v1t1 (corrected)",
          s"$id: snapshot-era belief must be revised at T2")
      else assert(v1t2 == v1t1, s"$id: unrevised key changed belief")
      if (id % 3 == 0)
        assert(v2t2 == v1t1.toUpperCase,
          s"$id: update must win the valid axis at T2")
      else if (id % 4 == 0)
        assert(v2t2 == v1t2, s"$id: corrected text carries to update era")
      else assert(v2t2 == v1t1, s"$id: untouched key must be invariant")
    }
    assert(rows.exists(_._1 % 12 == 0),
      "fixture must include keys where update and correction compete")
  }

  test("distribution drift: the planted upstream-filter bias flags " +
    "exactly the priority dimension; TV and Gini match a direct " +
    "imperative fold; clean dimensions stay under the threshold") {
    val rows = graft.queries.Profiling
      .qDistributionDrift(spark, "/root/testdata/sf0.001").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(rows.keySet == Set("priority", "status", "price_bucket"))
    assert(rows("priority")._5, "planted drift must flag")
    assert(!rows("status")._5 && !rows("price_bucket")._5,
      "clean dimensions must not flag")
    // imperative reference for the priority dimension
    val ords = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val a = ords.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val bRows = ords.filterNot { case (k, p) => p == "1-URGENT" && k % 2 == 0 }
    val b = bRows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val (ta, tb) = (ords.length.toLong, bRows.length.toLong)
    val vals = (a.keySet ++ b.keySet).toSeq
    val tv = vals.map { v =>
      math.abs(a.getOrElse(v, 0L) * 1000000L / ta -
        b.getOrElse(v, 0L) * 1000000L / tb)
    }.sum
    val giniA = 1000000L -
      vals.map(v => { val f = a.getOrElse(v, 0L) * 1000000L / ta; f * f }).sum / 1000000L
    assert(rows("priority")._2 == tv, s"tv ${rows("priority")._2} != $tv")
    assert(rows("priority")._3 == giniA)
    assert(rows("priority")._1 == vals.length.toLong)
  }

  test("WordPiece greedy maximal munch matches a direct imperative " +
    "reference (separate start/## vocabularies, longest-match-first) " +
    "and genuinely differs from the unigram Viterbi segmentation on " +
    "some word") {
    val d = "/root/testdata/sf0.001"
    val T = graft.queries.TextAnalysis
    val rows = T.qWordpieceEncode(spark, d).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // reference corpus rollup + vocabulary, rebuilt imperatively
    val words: Map[String, Long] = spark.read
      .parquet(s"$d/documents.parquet").select(col("text")).collect()
      .flatMap(r => "[a-z]+".r.findAllIn(r.getString(0).toLowerCase))
      .filter(_.length <= T.UnigramUnroll)
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val freqs = collection.mutable.Map.empty[(String, Boolean), Long]
    for ((w, c) <- words; st <- 0 until w.length;
         ln <- 1 to math.min(T.WpMaxPiece, w.length - st)) {
      val k = (w.substring(st, st + ln), st == 0)
      freqs(k) = freqs.getOrElse(k, 0L) + c
    }
    def form(isStart: Boolean): Set[String] = {
      val f = freqs.collect { case ((t, s), fr) if s == isStart => (t, fr) }
      f.collect { case (t, _) if t.length == 1 => t }.toSet ++
        f.filter(_._1.length >= 2).toSeq
          .sortBy { case (t, fr) => (-fr, t) }.take(T.WpVocabTopK)
          .map(_._1)
    }
    val (startV, contV) = (form(true), form(false))
    def encode(w: String): Seq[String] = {
      var pos = 0; val out = collection.mutable.Buffer.empty[String]
      while (pos < w.length) {
        val l = (math.min(T.WpMaxPiece, w.length - pos) to 1 by -1)
          .find { l =>
            val p = w.substring(pos, pos + l)
            if (pos == 0) startV(p) else contV(p)
          }.get
        val p = w.substring(pos, pos + l)
        out += (if (pos == 0) p else "##" + p)
        pos += l
      }
      out.toSeq
    }
    assert(rows.keySet == words.keySet)
    words.foreach { case (w, c) =>
      val (cnt, np, pieces) = rows(w)
      val ref = encode(w)
      assert(cnt == c, s"$w count")
      assert(np == ref.length && pieces == ref.mkString(" "),
        s"$w: gate '$pieces' vs reference '${ref.mkString(" ")}'")
    }
    // the three tokenizers must be genuinely different algorithms:
    // greedy munch disagrees with Viterbi somewhere on this corpus
    val uni = T.qUnigramSegment(spark, d).collect()
      .map(r => r.getString(0) -> r.getString(4)).toMap
    assert(words.keys.exists(w =>
      rows(w)._3.replace("##", "") != uni(w)),
      "WordPiece and unigram segmentations must differ on some word")
  }

  test("incremental connected components == full recompute under RANDOM " +
    "append-only edge batches (multi-component merges, edges internal " +
    "to a component, never-seen endpoints); the merged marker equals " +
    "the touched-component frontier of each batch") {
    import spark.implicits._
    import graft.operators.{IncrementalComponents, MinLabelComponents}
    for (seed <- 0 until 3) {
      val rnd = new scala.util.Random(419L + seed)
      def randEdges(hi: Int, n: Int): Seq[(Int, Int)] =
        Seq.fill(n) {
          val a = 1 + rnd.nextInt(hi); val b = 1 + rnd.nextInt(hi)
          (math.min(a, b), math.max(a, b) + 1) // a < b, both ≤ hi+1
        }.distinct
      val nodes0 = (1 to 30)
      val e0 = randEdges(25, 8)
      var labels: org.apache.spark.sql.DataFrame =
        MinLabelComponents.components(nodes0.toDF("node"),
          e0.toDF("a", "b"), "node", "a", "b")
      var allEdges = e0
      var allNodes = nodes0.toSet
      for (g <- 1 to 2) {
        // later batches reach into ids the labeling has never seen
        val delta = randEdges(30 + g * 8, 6)
        val cur = labels.collect()
          .map(r => r.getInt(0) -> r.getInt(1)).toMap
        val touched = delta.flatMap { case (a, b) => Seq(a, b) }
          .map(n => cur.getOrElse(n, n)).toSet
        labels = IncrementalComponents.step(labels, delta.toDF("a", "b"),
          "node", "label", "a", "b", "via")
        allEdges ++= delta
        allNodes ++= delta.flatMap { case (a, b) => Seq(a, b) }
        val got = labels.collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
        val want = MinLabelComponents.components(
            allNodes.toSeq.toDF("node"), allEdges.toDF("a", "b"),
            "node", "a", "b")
          .collect().map { r =>
            val n = r.getInt(0)
            val fresh = !cur.contains(n)
            (n, r.getInt(1),
              if (fresh || touched(cur(n))) "merged" else "carried")
          }.toSet
        assert(got == want, s"seed $seed gen $g:\n got=${got.toSeq.sorted}" +
          s"\nwant=${want.toSeq.sorted}")
      }
    }
  }

  test("tombstone-bearing CC maintenance == full recompute under RANDOM " +
    "insert+delete batches (bridge deletions that SPLIT components); " +
    "recomputed marks exactly the affected components, and a delete-free " +
    "batch dispatches to the append-only incremental path") {
    import spark.implicits._
    import graft.operators.{IncrementalComponents, MinLabelComponents}
    for (seed <- 0 until 3) {
      val rnd = new scala.util.Random(733L + seed)
      def randEdges(hi: Int, n: Int): Seq[(Int, Int)] =
        Seq.fill(n) {
          val a = 1 + rnd.nextInt(hi); val b = 1 + rnd.nextInt(hi)
          (math.min(a, b), math.max(a, b) + 1)
        }.distinct
      val nodes0 = (1 to 30)
      val e0 = randEdges(25, 10)
      var labels = MinLabelComponents.components(nodes0.toDF("node"),
        e0.toDF("a", "b"), "node", "a", "b")
      var live = e0
      var allNodes = nodes0.toSet
      for (g <- 1 to 2) {
        // delete up to 2 random LIVE edges (bridges included — the case
        // with no local certificate) and insert a mix that may RE-INSERT
        // an already-live pair (round-9 advisory: the maintained edge
        // state must stay duplicate-free under exactly that)
        val dels = rnd.shuffle(live).take(1 + rnd.nextInt(2))
        val ins = randEdges(30 + g * 8, 4) ++
          rnd.shuffle(live.filterNot(dels.contains)).take(1)
        val cur = labels.select("node", "label").collect()
          .map(r => r.getInt(0) -> r.getInt(1)).toMap
        val touched = (dels ++ ins).flatMap { case (a, b) => Seq(a, b) }
          .map(n => cur.getOrElse(n, n)).toSet
        val delta = dels.map { case (a, b) => (a, b, "d") } ++
          ins.map { case (a, b) => (a, b, "i") }
        val (next, nextLive) = IncrementalComponents.stepWithTombstones(
          labels.select("node", "label"), live.toDF("a", "b"),
          delta.toDF("a", "b", "op"), "op", "node", "label", "a", "b",
          "via")
        labels = next
        live = (live.filterNot(dels.contains) ++ ins).distinct
        allNodes ++= ins.flatMap { case (a, b) => Seq(a, b) }
        val got = labels.collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
        val want = MinLabelComponents.components(
            allNodes.toSeq.toDF("node"), live.toDF("a", "b"),
            "node", "a", "b")
          .collect().map { r =>
            val n = r.getInt(0)
            val fresh = !cur.contains(n)
            (n, r.getInt(1),
              if (fresh || touched(cur(n))) "recomputed" else "carried")
          }.toSet
        assert(got == want, s"seed $seed gen $g:\n got=${got.toSeq.sorted}" +
          s"\nwant=${want.toSeq.sorted}")
        // the returned live-edge state matches the reference fold AND
        // is duplicate-free (a re-inserted live pair lands exactly once)
        val liveGot = nextLive.collect()
          .map(r => (r.getInt(0), r.getInt(1))).toSeq
        assert(liveGot.toSet == live.toSet,
          s"seed $seed gen $g: live-edge state drift")
        assert(liveGot.distinct.size == liveGot.size,
          s"seed $seed gen $g: duplicate rows in maintained edge state")
      }
      // delete-free dispatch: the same API must route through the O(Δ)
      // incremental step — witnessed by its 'merged' marker vocabulary
      val insOnly = randEdges(50, 3).filterNot(live.contains)
      val (app, _) = IncrementalComponents.stepWithTombstones(
        labels.select("node", "label"), live.toDF("a", "b"),
        insOnly.map { case (a, b) => (a, b, "i") }.toDF("a", "b", "op"),
        "op", "node", "label", "a", "b", "via")
      val vias = app.select("via").distinct().collect()
        .map(_.getString(0)).toSet
      assert(vias.subsetOf(Set("merged", "carried")) && vias("merged"),
        s"seed $seed: append-only batch must dispatch incrementally, " +
          s"got markers $vias")
    }
  }

  test("txn-consistent IVM holds back incomplete transactions: at least " +
    "one group the ungated agg view applied stays carried here with its " +
    "gen-1 value, and the full result matches an independent Scala fold " +
    "of the mod-rule closed form") {
    val d = "/root/testdata/sf0.001"
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[String]("g") ->
        ((r.getAs[Number]("n_members").longValue,
          r.getAs[Number]("total_balance").longValue,
          r.getAs[String]("maintained_via")))).toMap
    val gated = toMap(graft.queries.Cdc.qCdcTxnIvm(spark, d))
    val ungated = toMap(graft.queries.Cdc.qCdcAggView(spark, d))
    // independent reference fold over the raw customer table
    val H = 512
    val custs = spark.read.parquet(s"$d/customer.parquet")
      .select(col("c_custkey").cast("int"), lower(col("c_mktsegment")))
      .collect().map(r => (r.getInt(0), r.getString(1)))
    val events = custs.flatMap { case (id, _) =>
      Seq(3, 7, 4, 5).filter(m => id < H && id % m == 0).map(_ => id)
    }
    val byTx = events.groupBy(id => id / 24 + 1)
    val okTx = byTx.collect { case (tx, ids)
      if tx % 5 != 0 && ids.forall(_ % 11 != 0) => tx }.toSet
    val ap = byTx.filter(kv => okTx(kv._1)).values.flatten.toSet
    val live = custs.flatMap { case (id, seg) =>
      val app = ap(id)
      if (id < H && app && (id % 7 == 0 || id % 5 == 0)) None
      else Some((id, seg,
        if (id < H && id % 3 == 0 && app) s"moved-${id / 100}"
        else s"$seg-${id / 100}",
        id.toLong * 7 % 1000 +
          (if (id < H && id % 4 == 0 && app) 500L else 0L)))
    }
    val tgRef = custs.collect { case (id, seg) if ap(id) =>
      s"$seg-${id / 100}" }.toSet ++
      live.collect { case (id, _, g, _) if ap(id) => g }
    val want = live.groupBy(_._3).map { case (g, rows) =>
      g -> ((rows.length.toLong, rows.map(_._4).sum,
        if (tgRef(g)) "delta_applied" else "carried"))
    }
    assert(gated == want,
      s"diff=${(gated.toSet diff want.toSet) ++ (want.toSet diff gated.toSet)}")
    // the txn gate must actually HOLD BACK something the ungated view
    // applied — otherwise the fixture exercises nothing
    assert(gated.exists { case (g, (_, _, via)) =>
      via == "carried" && ungated.get(g).exists(_._3 == "delta_applied")
    }, "no group was held back: incompleteness modes not exercised")
    assert(gated.exists(_._2._3 == "delta_applied"),
      "some complete transaction must apply")
  }
}
