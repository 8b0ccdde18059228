package graft

import graft.cdc.{CdcEnvelope, Enrich, EnrichConfig}
import graft.functions.VectorFunctions
import graft.text.TextOps
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (ScalaCheck generators, explicit seeds — the
  * scalatest-plus bridge isn't in the offline cache) for the core
  * operators — SURVEY.md §5.2-1/-5.
  */
class PropertySpec extends SparkSpec {

  private val cfg = EnrichConfig(processingTimeIso = Some("t"))

  /** Run `f` over `n` deterministic samples of `gen`. */
  private def forSamples[T](gen: Gen[T], n: Int = 8)(f: T => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)).foreach(f)
    }

  private def forSamples2[A, B](ga: Gen[A], gb: Gen[B], n: Int = 8)(
      f: (A, B) => Unit): Unit =
    (0 until n).foreach { i =>
      for {
        a <- ga.apply(Gen.Parameters.default, Seed(1000L + i))
        b <- gb.apply(Gen.Parameters.default, Seed(2000L + i))
      } f(a, b)
    }

  test("property: changesMixed equals per-op changes for any rows/op/lsn mix") {
    import spark.implicits._
    val FixedTs = 1763741884000L
    val rowGen = for {
      id <- Gen.chooseNum(1, 1000000)
      name <- Gen.alphaStr.map(_.take(12))
      email <- Gen.oneOf("a@b.co", "", "x@y@z", "plain")
      op <- Gen.oneOf("c", "u", "d", "r")
      lsn <- Gen.chooseNum(1L, 1L << 40)
    } yield (id, name, email, op, lsn)
    forSamples(Gen.listOfN(12, rowGen), n = 4) { rows =>
      val mixed = graft.cdc.CdcSource.changesMixed(
        rows.toDF("id", "name", "email", "op", "lsn"), "op", "lsn",
        "db1", "sch", "tbl", fixedTsMs = Some(FixedTs))
        .collect().map(_.getString(0)).sorted.toSeq
      // oracle: the single-op generator applied row by row
      val perRow = rows.map { case (id, name, email, op, lsn) =>
        graft.cdc.CdcSource.changes(
          Seq((id, name, email)).toDF("id", "name", "email"),
          op, "db1", "sch", "tbl", lit(lsn), fixedTsMs = Some(FixedTs))
          .collect()(0).getString(0)
      }.sorted
      assert(mixed == perRow,
        s"changesMixed diverges from per-op changes:\n${mixed.diff(perRow)}\n${perRow.diff(mixed)}")
      // and the snapshot wrapper is changes(op = "r") with a null lsn
      val images = rows.map { case (id, name, email, _, _) =>
        (id, name, email) }.toDF("id", "name", "email")
      val snap = graft.cdc.CdcSource.snapshot(images, "db1", "sch", "tbl",
        fixedTsMs = Some(FixedTs)).collect().map(_.getString(0)).sorted.toSeq
      val asRead = graft.cdc.CdcSource.changes(images, "r", "db1", "sch",
        "tbl", lit(null), fixedTsMs = Some(FixedTs))
        .collect().map(_.getString(0)).sorted.toSeq
      assert(snap == asRead,
        s"snapshot diverges from changes(op = r, lsn = null):\n${snap.diff(asRead)}")
    }
  }

  test("property: any non-JSON-object input passes through byte-identical") {
    import spark.implicits._
    val garbage = Gen.oneOf(
      Gen.alphaNumStr.suchThat(s => !s.trim.startsWith("{")),
      Gen.const("[1,2,3]"), Gen.const("42"), Gen.const("\"str\""),
      Gen.const("{broken"), Gen.const(""))
    forSamples(Gen.listOfN(20, garbage)) { inputs =>
      val out = Enrich(inputs.toDF("value"), cfg)
        .select("value_out").collect().map(r => Option(r.getString(0)))
      assert(out.toSeq == inputs.map(Option(_)))
    }
  }

  test("property: enriched output embeds the input envelope unchanged") {
    import spark.implicits._
    val opGen = Gen.oneOf("c", "u", "d", "r", "x")
    val emailGen = Gen.oneOf("a@b.co", "", "no-at", "a@b@c")
    val envGen = for {
      op <- opGen; id <- Gen.choose(1, 99); email <- emailGen
      tsMs <- Gen.choose(1L, 2000000000000L)
    } yield s"""{"before":null,"after":{"id":$id,"email":"$email"},"op":"$op","ts_ms":$tsMs}"""
    forSamples(Gen.listOfN(10, envGen), n = 4) { inputs =>
      {
        val out = Enrich(inputs.toDF("value"), cfg).select("value", "value_out").collect()
        out.foreach { r =>
          val reparsed = spark.range(1).select(
            from_json(lit(r.getString(1)), org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("original",
                CdcEnvelope.schema())))).as("p"))
            .select(to_json(col("p.original"))).collect()(0).getString(0)
          val orig = spark.range(1).select(
            to_json(from_json(lit(r.getString(0)), CdcEnvelope.schema())))
            .collect()(0).getString(0)
          assert(reparsed == orig, s"original not preserved for ${r.getString(0)}")
        }
      }
    }
  }

  test("property: minhash signature is mergeable (sig(A∪B) = slotwise min)") {
    import spark.implicits._
    val hashGen = Gen.listOf(Gen.choose(0L, (1L << 56) - 1)).suchThat(_.nonEmpty)
    forSamples2(hashGen, hashGen) { (a, b) =>
      val df = Seq((a, b, a ++ b)).toDF("a", "b", "ab")
      val r = df.select(
        VectorFunctions.minhashSig(col("a"), TextOps.MinhashParams, TextOps.P),
        VectorFunctions.minhashSig(col("b"), TextOps.MinhashParams, TextOps.P),
        VectorFunctions.minhashSig(col("ab"), TextOps.MinhashParams, TextOps.P))
        .collect()(0)
      val (sa, sb, sab) = (r.getSeq[Long](0), r.getSeq[Long](1), r.getSeq[Long](2))
      assert(sab.toList == sa.zip(sb).map { case (x, y) => math.min(x, y) }.toList)
    }
  }

  test("property: DotProduct is symmetric and Cauchy-Schwarz holds") {
    import spark.implicits._
    val vecGen = Gen.listOfN(16, Gen.choose(-100.0, 100.0))
    forSamples2(vecGen, vecGen) { (a, b) =>
      val row = Seq((a, b)).toDF("a", "b").select(
        VectorFunctions.dot(col("a"), col("b")),
        VectorFunctions.dot(col("b"), col("a")),
        VectorFunctions.dot(col("a"), col("a")),
        VectorFunctions.dot(col("b"), col("b"))).collect()(0)
      assert(row.getDouble(0) == row.getDouble(1), "symmetry")
      assert(row.getDouble(0) * row.getDouble(0) <=
        row.getDouble(2) * row.getDouble(3) * (1 + 1e-9), "cauchy-schwarz")
    }
  }

  test("property: snapshot replay is idempotent after lsn dedup (§5.2-5)") {
    import spark.implicits._
    // at-least-once duplication: every envelope delivered 1-3 times;
    // dedup on the (source.lsn) ordering key restores exactly-once results
    val base = (1 to 30).map(i =>
      s"""{"after":{"id":$i},"source":{"lsn":$i,"db":"d","schema":"s","table":"t"},"op":"c","ts_ms":$i}""")
    forSamples(Gen.listOfN(30, Gen.choose(1, 3)), n = 4) { reps =>
      val duplicated = base.zip(reps).flatMap { case (e, n) => Seq.fill(n)(e) }
      val once = Enrich(base.toDF("value"), cfg)
        .dropDuplicates(Seq("value_out")).select("value_out")
        .collect().map(_.getString(0)).sorted.toSeq
      val replayed = Enrich(duplicated.toDF("value"), cfg)
        .withColumn("lsn", col("envelope.source.lsn"))
        .dropDuplicates(Seq("lsn")).select("value_out")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(replayed == once)
    }
  }

  test("property: repetition fold == reference mode on random token lists") {
    import spark.implicits._
    val tokGen = Gen.oneOf("aa", "bb", "cc", "dd", "e")
    val docGen = Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, tokGen))
    forSamples(Gen.listOfN(24, docGen)) { docs =>
      val df = docs.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      // run the PRODUCTION query against the synthetic corpus via a
      // parquet round-trip (the loaders key on directory layout)
      val dir = tmpDir("prop-rep")
      df.withColumn("lang", lit("en")).withColumn("source", lit("p"))
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = graft.queries.TextAnalysis.qRepetition(spark, dir)
        .collect().map(r => (r.getAs[Long]("doc_id"),
          (r.getAs[String]("top_2gram"), r.getAs[Long]("top_2gram_n")))).toMap
      docs.zipWithIndex.foreach { case (ts, i) =>
        val grams = ts.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
        val expected =
          if (grams.isEmpty) ("", 0L)
          else {
            val (g, n) = grams.groupBy(identity).view.mapValues(_.size)
              .toSeq.minBy { case (g, n) => (-n, g) }
            (g, n.toLong)
          }
        assert(got(i.toLong) == expected,
          s"doc $i (${ts.mkString(" ")}): got ${got(i.toLong)}, want $expected")
      }
    }
  }

  test("property: CMS estimate >= exact for arbitrary key multisets") {
    import spark.implicits._
    val keyGen = Gen.choose(1L, 30L)
    forSamples(Gen.listOfN(300, keyGen)) { keys =>
      val dir = tmpDir("prop-cms")
      keys.toDF("l_partkey").write.mode("overwrite")
        .parquet(s"$dir/lineitem.parquet")
      val exact = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
      graft.queries.Approx.qCmsTopk(spark, dir).collect().foreach { r =>
        val k = r.getAs[Long]("l_partkey")
        assert(r.getAs[Long]("exact_cnt") == exact(k))
        assert(r.getAs[Long]("cms_est") >= exact(k),
          s"CMS undercounted key $k")
      }
    }
  }

  test("property: chunking covers every token; interior chunks full-width") {
    import spark.implicits._
    import graft.queries.Curation.ChunkStride
    val docGen = Gen.choose(1, 90).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("x", "yy", "zzz")))
    forSamples(Gen.listOfN(16, docGen)) { docs =>
      val dir = tmpDir("prop-chunk")
      docs.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val byDoc = graft.queries.Curation.qChunkDocuments(spark, dir)
        .collect().groupBy(_.getAs[Long]("doc_id"))
      docs.zipWithIndex.foreach { case (ts, i) =>
        val cs = byDoc(i.toLong).sortBy(_.getAs[Int]("chunk_idx"))
        val n = ts.size
        // chunk starts step by the stride from zero and stay inside the doc
        assert(cs.zipWithIndex.forall { case (c, k) =>
          c.getAs[Int]("offset") == k * ChunkStride })
        assert(cs.last.getAs[Int]("offset") < n)
        // coverage: the final chunk reaches the last token
        val last = cs.last
        assert(last.getAs[Int]("offset") + last.getAs[Int]("chunk_tokens") == n)
        // no gaps: each chunk begins inside (or at the end of) its
        // predecessor, and every chunk stays within the document
        cs.sliding(2).filter(_.length == 2).foreach { case Array(p, c) =>
          assert(c.getAs[Int]("offset") <=
            p.getAs[Int]("offset") + p.getAs[Int]("chunk_tokens"))
        }
        cs.foreach { c =>
          assert(c.getAs[Int]("chunk_tokens") >= 1)
          assert(c.getAs[Int]("offset") + c.getAs[Int]("chunk_tokens") <= n)
        }
      }
    }
  }

  test("property: incremental-agg delta sum == replayed live count, any lifecycle") {
    import spark.implicits._
    // per-key lifecycle: 1-3 generations of insert + 0-3 updates, each
    // but possibly the last closed by a delete — covers re-insertion,
    // which the gate query's closed-form change mix doesn't exercise
    val lifecycleGen: Gen[List[String]] = for {
      gens <- Gen.choose(1, 3)
      segs <- Gen.listOfN(gens, for {
        ups <- Gen.choose(0, 3)
        closed <- Gen.oneOf(true, false)
      } yield ("c" :: List.fill(ups)("u")) ++ (if (closed) List("d") else Nil))
      // only the final generation may stay open: close all earlier ones
    } yield segs.zipWithIndex.flatMap { case (s, i) =>
      if (i < segs.size - 1 && s.lastOption != Some("d")) s :+ "d" else s
    }
    forSamples(Gen.listOfN(30, lifecycleGen)) { logs =>
      val rows = logs.zipWithIndex.flatMap { case (ops, k) =>
        ops.map(op => (k.toLong, op, s"g${k % 3}.example.com"))
      }
      val got = rows.toDF("id", "op", "domain")
        .withColumn("delta", graft.queries.Cdc.liveDelta(col("op")))
        .groupBy(col("domain")).agg(sum(col("delta")).as("live"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expected = logs.zipWithIndex
        .groupBy { case (_, k) => s"g${k % 3}.example.com" }
        .view.mapValues(_.count { case (ops, _) => ops.last != "d" }.toLong)
        .toMap
      // domains where every key ended deleted still appear with live=0
      expected.foreach { case (d, n) => assert(got.getOrElse(d, 0L) == n,
        s"domain $d: delta-sum ${got.get(d)} != replayed live $n") }
      got.foreach { case (d, n) => assert(expected.getOrElse(d, 0L) == n) }
    }
  }

  test("property: span rewrite == brute reference on adversarial corpora " +
    "(sub-K docs, identical docs, high in-doc repetition)") {
    import spark.implicits._
    val docGen = for {
      n <- Gen.chooseNum(0, 20)
      toks <- Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee"))
    } yield toks.mkString(" ")
    forSamples(Gen.listOfN(12, docGen), n = 4) { texts0 =>
      // force at least one exact cross-doc duplicate
      val texts = texts0 ++ texts0.headOption
      val dir = tmpDir("prop-span")
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val docs = texts.zipWithIndex
        .map { case (t, i) => i.toLong -> t.split(" ", -1).toVector }.toMap
      val expected = graft.queries.SpanRewriteReference.expected(
        docs, graft.queries.Dedup.SubstrK)
      val rows = graft.queries.Dedup.qDedupSpanRewrite(spark, dir).collect()
      assert(rows.length == docs.size)
      rows.foreach { r =>
        val (n, rem, m) = expected(r.getAs[Long]("doc_id"))
        assert(r.getAs[Long]("n_tokens") == n &&
          r.getAs[Long]("n_removed") == rem &&
          r.getAs[String]("kept_md5") == m,
          s"doc ${r.get(0)} diverges for corpus $texts")
      }
    }
  }

  test("property: log compaction frontier == reference fold under " +
    "replays, ties, and tombstones") {
    import spark.implicits._
    val recGen = for {
      id <- Gen.choose(1, 8)
      op <- Gen.oneOf("c", "u", "d")
      lsn <- Gen.choose(1L, 30L)
    } yield (id, op, lsn)
    forSamples(Gen.listOfN(25, recGen), n = 4) { recs =>
      val lines = graft.cdc.CdcSource.changesMixed(
        recs.toDF("id", "op", "lsn"), "op", "lsn", "db", "sch", "tbl",
        fixedTsMs = Some(1L)).collect().map(_.getString(0)).toList
      // at-least-once replay of a suffix + two uncompactable lines
      val replay = lines.takeRight(3)
      val all = lines ++ replay ++ List("corrupt{{x", "[1,2]")
      val in = tmpDir("prop-compact-in")
      val out = tmpDir("prop-compact-out") + "/log"
      java.nio.file.Files.write(java.nio.file.Paths.get(in, "0001.jsonl"),
        all.mkString("\n").getBytes("UTF-8"))
      val stats = graft.cdc.CdcLogCompaction.compact(spark, in, out)
      val survivors = spark.read.text(out).collect().map(_.getString(0))
      // reference fold: per key, winner = max (lsn, raw line); drop
      // tombstone winners; duplicates collapse; passthrough verbatim
      val tuples = (recs zip lines) ++ (recs.takeRight(3) zip replay)
      val winners = tuples.groupBy(_._1._1).view.mapValues(_.maxBy {
        case ((_, _, lsn), line) => (lsn, line)
      }).toMap
      val expectedKept = winners.values.collect {
        case ((_, op, _), line) if op != "d" => line
      }.toSet
      assert(survivors.toSet == expectedKept ++ Set("corrupt{{x", "[1,2]"),
        s"frontier diverges for $recs")
      assert(stats.kept == expectedKept.size)
      assert(stats.passthrough == 2)
      assert(stats.tombstonedKeys ==
        winners.values.count { case ((_, op, _), _) => op == "d" })
      // one winner row per key; every other compactable row is superseded
      // (exact replays of the winner included — rn>1 in the window)
      assert(stats.superseded == tuples.size - winners.size)
    }
  }

  test("property: txn release emits exactly the complete transactions, " +
    "once, under any batching and duplication") {
    import graft.streaming.{TxnConsistentStream, TxnEvent, TxnReleaseState, TxnTagged}
    import org.apache.spark.sql.streaming.GroupStateTimeout
    def freshState(prev: Option[TxnReleaseState]) =
      org.apache.spark.sql.streaming.TestGroupState.create[TxnReleaseState](
        org.apache.spark.api.java.Optional.fromNullable(prev.orNull),
        GroupStateTimeout.NoTimeout(), 0L,
        org.apache.spark.api.java.Optional.empty[Long](),
        hasTimedOut = false)
    val txGen = for {
      n <- Gen.choose(1, 5)
      hasEnd <- Gen.oneOf(true, false)
      drop <- Gen.choose(0, 1)
      cuts <- Gen.choose(1, 3)
      dupIdx <- Gen.choose(0, 9)
    } yield (n, hasEnd, drop, cuts, dupIdx)
    forSamples(Gen.listOfN(6, txGen), n = 6) { txs =>
      txs.zipWithIndex.foreach {
        case ((n, hasEnd, drop, cuts, dupIdx), t) =>
          val events = (1 to n - drop).map(l =>
            TxnTagged(t, "e", l.toLong, -1, s"v$l")).toList
          val meta = if (hasEnd) List(TxnTagged(t, "m", 0, n, "")) else Nil
          val records = new scala.util.Random(42L + t).shuffle(events ++ meta)
          // split into `cuts` batches; duplicate one record into the tail
          val size = math.max(1, records.size / cuts)
          val batches0 = records.grouped(size).toList
          val batches =
            if (records.isEmpty) batches0
            else batches0.init :+ (batches0.last :+
              records(dupIdx % records.size))
          var st: Option[TxnReleaseState] = None
          val emitted = batches.flatMap { b =>
            val gs = freshState(st)
            val outs = TxnConsistentStream.releaseTxn(t.toLong,
              b.iterator, gs).toList
            st = gs.getOption
            outs
          }
          val complete = hasEnd && drop == 0
          if (complete)
            assert(emitted == (1 to n).map(l =>
              TxnEvent(t, l, s"v$l")).toList,
              s"txn $t ($n,$hasEnd,$drop,$cuts): $emitted")
          else assert(emitted.isEmpty,
            s"txn $t incomplete but emitted $emitted")
      }
    }
  }

  test("property: evicting txn release — every arrived event emits " +
    "exactly once, whole, released XOR dead-lettered, under any " +
    "batching, duplication, and event-time jitter") {
    import graft.streaming.{TxnConsistentStream, TxnState, TxnTaggedTs, TxnVerdict}
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val H = 60000L
    val T0 = 1700000000000L
    def freshState(prev: Option[TxnState], wm: Long, timedOut: Boolean) =
      org.apache.spark.sql.streaming.TestGroupState.create[TxnState](
        org.apache.spark.api.java.Optional.fromNullable(prev.orNull),
        GroupStateTimeout.EventTimeTimeout(), 0L,
        org.apache.spark.api.java.Optional.of(wm),
        hasTimedOut = timedOut)
    val f = TxnConsistentStream.releaseOrEvictTxn(H) _
    val txGen = for {
      n <- Gen.choose(1, 5)
      hasEnd <- Gen.oneOf(true, false)
      drop <- Gen.choose(0, 1)
      cuts <- Gen.choose(1, 3)
      dupIdx <- Gen.choose(0, 9)
      jit <- Gen.listOfN(6, Gen.choose(0L, 2 * H))
    } yield (n, hasEnd, drop, cuts, dupIdx, jit)
    forSamples(Gen.listOfN(6, txGen), n = 6) { txs =>
      txs.zipWithIndex.foreach {
        case ((n, hasEnd, drop, cuts, dupIdx, jit), t) =>
          def ts(l: Int) = new java.sql.Timestamp(T0 + jit(l % jit.size))
          val events = (1 to n - drop).map(l =>
            TxnTaggedTs(t, "e", l.toLong, -1, s"v$l", ts(l))).toList
          val meta =
            if (hasEnd) List(TxnTaggedTs(t, "m", 0, n, "", ts(0))) else Nil
          val records = new scala.util.Random(42L + t).shuffle(events ++ meta)
          val size = math.max(1, records.size / cuts)
          val batches0 = records.grouped(size).toList
          val batches =
            if (records.isEmpty) batches0
            else batches0.init :+ (batches0.last :+
              records(dupIdx % records.size))
          var st: Option[TxnState] = None
          var arm: Option[Long] = None
          var wm = 0L
          var evictedMid = false
          val emitted = scala.collection.mutable.ListBuffer.empty[TxnVerdict]
          val delivered = scala.collection.mutable.Set.empty[(Long, String)]
          var endDelivered = false
          def fireIfDue(mid: Boolean): Unit =
            while (st.isDefined && arm.exists(_ <= wm)) {
              val gs = freshState(st, wm, timedOut = true)
              val out = f(t.toLong, Iterator.empty, gs).toList
              if (mid && out.nonEmpty) evictedMid = true
              emitted ++= out
              st = gs.getOption
              arm = None
              assert(st.isEmpty, "timed-out state must be removed")
            }
          batches.foreach { b =>
            // the engine fires due timers and FILTERS LATE ROWS (event
            // time below the watermark) before the state function —
            // exactly what makes post-eviction replays safe
            fireIfDue(mid = true)
            val kept = b.filter(r => r.ts == null || r.ts.getTime >= wm)
            if (kept.nonEmpty) {
              kept.foreach { r =>
                if (r.kind == "e") delivered += ((r.lsn, r.value))
                else endDelivered = true
              }
              val gs = freshState(st, wm, timedOut = false)
              emitted ++= f(t.toLong, kept.iterator, gs)
              st = gs.getOption
              if (gs.getTimeoutTimestampMs.isPresent)
                arm = Some(gs.getTimeoutTimestampMs.get())
            }
            // watermark trails the max event time seen so far
            wm = math.max(wm,
              kept.flatMap(r => Option(r.ts)).map(_.getTime - 1000L)
                .maxOption.getOrElse(wm))
          }
          // end of stream: the watermark eventually passes every horizon
          wm = T0 + 10 * H + jit.max
          fireIfDue(mid = false)
          assert(st.isEmpty, "every horizon fires by end of stream")
          // universal invariants, any interleaving: every DELIVERED
          // distinct event emits exactly once; a transaction never both
          // releases and dead-letters; a release is the whole txn in
          // lsn order
          val outPairs = emitted.toList.map(e => (e.lsn, e.value))
          assert(outPairs.sorted == delivered.toList.sorted,
            s"txn $t ($n,$hasEnd,$drop,$cuts): every delivered event " +
              s"exactly once: $emitted vs $delivered")
          val rel = emitted.filter(!_.dead)
          assert(rel.isEmpty || emitted.forall(!_.dead),
            s"txn $t: released AND dead-lettered: $emitted")
          if (rel.nonEmpty)
            assert(rel.toList == (1 to n).map(l =>
              TxnVerdict(t, l, s"v$l", dead = false)).toList,
              s"txn $t: release must be whole and lsn-ordered: $emitted")
          // and when no mid-stream eviction interleaved, the outcome is
          // fully determined: complete input releases, the rest
          // dead-letters whole at the end
          if (!evictedMid) {
            val complete = hasEnd && drop == 0 && endDelivered &&
              delivered.size == n
            if (complete)
              assert(rel.nonEmpty,
                s"txn $t ($n,$hasEnd,$drop,$cuts): complete txn with no " +
                  s"mid-stream eviction must release: $emitted")
            else
              assert(emitted.forall(_.dead),
                s"txn $t ($n,$hasEnd,$drop,$cuts): incomplete txn must " +
                  s"dead-letter: $emitted")
          }
      }
    }
  }

  test("property: evicting txn release under CRASH-REPLAY restart " +
    "schedules — a micro-batch that crashes before commit replays " +
    "against the restored state, reproduces its output exactly, and " +
    "every invariant (exactly-once, released XOR dead-lettered, whole " +
    "lsn-ordered release) holds across ≥100 random schedules") {
    import graft.streaming.{TxnConsistentStream, TxnState, TxnTaggedTs, TxnVerdict}
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val H = 60000L
    val T0 = 1700000000000L
    def freshState(prev: Option[TxnState], wm: Long, timedOut: Boolean) =
      org.apache.spark.sql.streaming.TestGroupState.create[TxnState](
        org.apache.spark.api.java.Optional.fromNullable(prev.orNull),
        GroupStateTimeout.EventTimeTimeout(), 0L,
        org.apache.spark.api.java.Optional.of(wm),
        hasTimedOut = timedOut)
    val f = TxnConsistentStream.releaseOrEvictTxn(H) _
    val txGen = for {
      n <- Gen.choose(1, 5)
      hasEnd <- Gen.oneOf(true, false)
      drop <- Gen.choose(0, 1)
      cuts <- Gen.choose(1, 4)
      dupIdx <- Gen.choose(0, 9)
      jit <- Gen.listOfN(6, Gen.choose(0L, 2 * H))
      crashes <- Gen.listOfN(5, Gen.oneOf(true, false))
    } yield (n, hasEnd, drop, cuts, dupIdx, jit, crashes)
    // 20 samples × 6 txns = 120 random schedules, each with its own
    // batching, duplication, jitter, and crash mask
    forSamples(Gen.listOfN(6, txGen), n = 20) { txs =>
      txs.zipWithIndex.foreach {
        case ((n, hasEnd, drop, cuts, dupIdx, jit, crashes), t) =>
          def ts(l: Int) = new java.sql.Timestamp(T0 + jit(l % jit.size))
          val events = (1 to n - drop).map(l =>
            TxnTaggedTs(t, "e", l.toLong, -1, s"v$l", ts(l))).toList
          val meta =
            if (hasEnd) List(TxnTaggedTs(t, "m", 0, n, "", ts(0))) else Nil
          val records = new scala.util.Random(7L + t).shuffle(events ++ meta)
          val size = math.max(1, records.size / cuts)
          val batches0 = records.grouped(size).toList
          val batches =
            if (records.isEmpty) batches0
            else batches0.init :+ (batches0.last :+
              records(dupIdx % records.size))
          var st: Option[TxnState] = None
          var arm: Option[Long] = None
          var wm = 0L
          val committed = scala.collection.mutable.ListBuffer.empty[TxnVerdict]
          val delivered = scala.collection.mutable.Set.empty[(Long, String)]
          var endDelivered = false
          // ONE engine micro-batch = fire due timers (against the batch's
          // entry watermark), then process the late-filtered data. Pure
          // function of (state, arm, wm, batch) → (state', arm', wm',
          // out) so a crash-replay is literally a re-invocation.
          def microBatch(b: List[TxnTaggedTs], s0: Option[TxnState],
              a0: Option[Long], w0: Long)
              : (Option[TxnState], Option[Long], Long, List[TxnVerdict]) = {
            var s = s0; var a = a0
            val out = scala.collection.mutable.ListBuffer.empty[TxnVerdict]
            while (s.isDefined && a.exists(_ <= w0)) {
              val gs = freshState(s, w0, timedOut = true)
              out ++= f(t.toLong, Iterator.empty, gs)
              s = gs.getOption; a = None
            }
            val kept = b.filter(r => r.ts == null || r.ts.getTime >= w0)
            if (kept.nonEmpty) {
              val gs = freshState(s, w0, timedOut = false)
              out ++= f(t.toLong, kept.iterator, gs)
              s = gs.getOption
              a = if (gs.getTimeoutTimestampMs.isPresent)
                Some(gs.getTimeoutTimestampMs.get()) else a
            }
            val w1 = math.max(w0,
              kept.flatMap(r => Option(r.ts)).map(_.getTime - 1000L)
                .maxOption.getOrElse(w0))
            (s, a, w1, out.toList)
          }
          batches.zipWithIndex.foreach { case (b, i) =>
            val attempt1 = microBatch(b, st, arm, wm)
            val (s1, a1, w1, out1) =
              if (crashes(i % crashes.size)) {
                // crash BEFORE commit: outputs discarded, state store /
                // watermark / timer all restore to the batch entry
                // snapshot, the batch replays — and determinism demands
                // the replay reproduce the aborted attempt exactly
                val attempt2 = microBatch(b, st, arm, wm)
                assert(attempt2 == attempt1,
                  s"txn $t batch $i: crash-replay diverged:\n" +
                    s" aborted=$attempt1\n replayed=$attempt2")
                attempt2
              } else attempt1
            st = s1; arm = a1; wm = w1
            committed ++= out1
          }
          // recompute delivered from the committed perspective: a record
          // reached state iff it survived the late filter at its batch's
          // ENTRY watermark — replay the watermark sequence to tell
          var wmSim = 0L
          batches.foreach { b =>
            val kept = b.filter(r => r.ts == null || r.ts.getTime >= wmSim)
            kept.foreach { r =>
              if (r.kind == "e") delivered += ((r.lsn, r.value))
              else endDelivered = true
            }
            wmSim = math.max(wmSim,
              kept.flatMap(r => Option(r.ts)).map(_.getTime - 1000L)
                .maxOption.getOrElse(wmSim))
          }
          // end of stream: watermark passes every horizon
          wm = T0 + 10 * H + jit.max
          val (sEnd, _, _, outEnd) = microBatch(Nil, st, arm, wm)
          committed ++= outEnd
          assert(sEnd.isEmpty, s"txn $t: horizon must fire by stream end")
          val outPairs = committed.toList.map(e => (e.lsn, e.value))
          assert(outPairs.sorted == delivered.toList.sorted,
            s"txn $t: every delivered event exactly once under crashes: " +
              s"$committed vs $delivered")
          val rel = committed.filter(!_.dead)
          assert(rel.isEmpty || committed.forall(!_.dead),
            s"txn $t: released AND dead-lettered: $committed")
          if (rel.nonEmpty)
            assert(rel.toList == (1 to n).map(l =>
              TxnVerdict(t, l, s"v$l", dead = false)).toList,
              s"txn $t: release must be whole and lsn-ordered: $committed")
      }
    }
  }

  test("property: bucketed interval overlap ≡ naive quadratic join, " +
    "including negative times and zero-length intervals") {
    import spark.implicits._
    val genIv = for {
      k <- Gen.choose(1, 4)
      s <- Gen.choose(-50L, 200L)
      len <- Gen.choose(0L, 60L)
    } yield (k.toLong, s, s + len)
    forSamples2(Gen.listOfN(20, genIv), Gen.listOfN(20, genIv), n = 5) {
      (la, lb) =>
        val a = la.zipWithIndex.map { case ((k, s, e), i) => (k, s, e, i.toLong) }
          .toDF("k", "a_start", "a_end", "a_id")
        val b = lb.zipWithIndex.map { case ((k, s, e), i) => (k, s, e, i.toLong) }
          .toDF("k", "b_start", "b_end", "b_id")
        val got = graft.operators.IntervalJoin
          .overlap(a, b, "k", "a_start", "a_end", "b_start", "b_end", bucket = 13L)
          .select("a_id", "b_id").as[(Long, Long)].collect().sorted.toSeq
        val naive = (for {
          ((ak, s1, e1), i) <- la.zipWithIndex
          ((bk, s2, e2), j) <- lb.zipWithIndex
          if ak == bk && s1 <= e2 && s2 <= e1
        } yield (i.toLong, j.toLong)).sorted
        assert(got == naive, s"bucketed=$got naive=$naive")
    }
  }

  test("property: RankOne ≡ row_number() = 1 under the same ORDER BY, " +
      "both sides, every null placement") {
    import spark.implicits._
    import java.sql.Timestamp
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.expressions.Window
    import graft.operators.RankOne
    // few distinct values: ties, negatives and NULLs in every key, and a
    // NULL group; `id` is the unique tiebreak
    val rowGen = for {
      g <- Gen.oneOf(None, Some("x"), Some("y"))
      a <- Gen.option(Gen.chooseNum(-3L, 3L))
      i <- Gen.option(Gen.chooseNum(-2, 2))
      str <- Gen.option(Gen.oneOf("a", "b", "c"))
      t <- Gen.option(Gen.chooseNum(-2L, 2L).map(h => new Timestamp(h * 3600000L)))
    } yield (g, a, i, str, t)
    val (a, i, s, t, id) = (col("a"), col("i"), col("s"), col("t"), col("id"))
    val orders = Seq(
      Seq(id.desc),
      Seq(a.asc_nulls_first, id), Seq(a.asc_nulls_last, id.desc),
      Seq(a.desc_nulls_first, id), Seq(a.desc_nulls_last, id.desc),
      Seq(s, a.desc_nulls_last, id),
      Seq(s.desc_nulls_last, a.asc_nulls_last, id),
      Seq(t.desc, a.asc_nulls_first, id.desc),
      Seq(t.asc_nulls_last, s.asc_nulls_last, i.desc, id),
      Seq(s.desc, t.desc_nulls_first, i.asc_nulls_last, id))
    // eight random frames as the groups of one (sample `k`, `g`), and
    // every order's winners in one frame, tagged with the order's index
    val samples = scala.collection.mutable.ArrayBuffer.empty[
      (Int, Option[String], Option[Long], Option[Int], Option[String],
        Option[Timestamp], Long)]
    forSamples(Gen.listOfN(40, rowGen)) { rows =>
      val (k, n0) = (samples.size / 40, samples.size)
      samples ++= rows.zipWithIndex.map { case ((g, a, i, s, t), j) =>
        (k, g, a, i, s, t, (n0 + j).toLong) }
    }
    val df = samples.toSeq.toDF("k", "g", "a", "i", "s", "t", "id")
    def winners(rankOne: Seq[Column] => DataFrame): Set[Seq[Any]] =
      orders.zipWithIndex
        .map { case (order, n) => rankOne(order).withColumn("order", lit(n)) }
        .reduce(_ unionByName _).collect().map(_.toSeq).toSet
    val got = winners(order => RankOne(df, Seq("k", "g"), order: _*))
    val want = winners(order => df.withColumn("rn", row_number()
        .over(Window.partitionBy("k", "g").orderBy(order: _*)))
      .filter(col("rn") === 1).drop("rn"))
    assert(got == want, s"orders: ${orders.zipWithIndex.mkString("; ")}")
    // non-integral keys in opposite directions have no min/max fold
    val e = intercept[IllegalArgumentException](RankOne(
      Seq(("x", "a", new Timestamp(0L))).toDF("g", "s", "t"), Seq("g"),
      s, t.desc))
    assert(e.getMessage.contains("s ASC, t DESC"), e.getMessage)
  }

  test("property: global rank ≡ sorted-sequence index under any values") {
    import spark.implicits._
    val genV = Gen.choose(-1000L, 1000L)
    forSamples(Gen.listOfN(300, genV), n = 5) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (v, i.toLong) }
        .toDF("v", "id").repartition(7)
      val got = graft.operators.GlobalRank
        .withRank(df, Seq(col("v"), col("id")), "r", "n")
        .select("v", "id", "r").as[(Long, Long, Long)].collect()
      val expected = vs.zipWithIndex
        .map { case (v, i) => (v, i.toLong) }.sorted.zipWithIndex
        .map { case (k, i) => k -> (i + 1L) }.toMap
      got.foreach { case (v, id, r) =>
        assert(r == expected((v, id)), s"rank of ($v,$id)") }
    }
  }

  test("property: distributed prefix sum ≡ sequential running sum under any values") {
    import spark.implicits._
    val genV = Gen.choose(-1000L, 1000L)
    forSamples(Gen.listOfN(300, genV), n = 5) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v").repartition(7)
      val got = graft.operators.GlobalRank
        .withPrefixSum(df, Seq(col("id")), "v", "cum")
        .select("id", "cum").as[(Long, Long)].collect().toMap
      var running = 0L
      vs.zipWithIndex.foreach { case (v, i) =>
        running += v
        assert(got(i.toLong) == running, s"prefix sum at id=$i")
      }
    }
  }

  test("property: bloom-prefiltered semi join ≡ set intersection") {
    import spark.implicits._
    val genKey = Gen.choose(0L, 500L)
    forSamples2(Gen.listOfN(60, genKey), Gen.listOfN(200, genKey), n = 5) {
      (bk, pk) =>
        val got = graft.operators.BloomFilterJoin
          .semiJoin(pk.toDF("p"), bk.toDF("b"), "p", "b",
            numBits = 1 << 12, numHashes = 4)
          .as[Long].collect().sorted.toSeq
        val expected = pk.filter(bk.toSet).sorted
        assert(got == expected)
    }
  }
}
