package graft.queries

import graft.SparkSpec
import graft.cdc.FeedConsumer

/** Pins the DECOUPLED consumer's independence rails — the contracts
  * the feed gates' hashes cannot express by themselves. The count/sum
  * rollup (first row):
  *
  *  1. MULTI-GENERATION CATCH-UP — a consumer that lags the producer
  *     applies generations N+1..N+k contiguously (the signed folds
  *     telescope) and lands on the reference answer.
  *  2. CONSUMER mid-drive kill — un-commit the consumer's last batch
  *     (checkpoint surgery) and restart: the re-delivered batch folds
  *     into its pre-batch state (bounded reads) and republishes
  *     byte-identically.
  *  3. PRODUCER at-least-once — a producer checkpoint replay rewrites
  *     feed generation 2 with identical content but FRESH part files;
  *     the consumer's file source surfaces them as new input, and the
  *     applied-frontier filter makes the re-delivery a no-op.
  *  4. RETENTION OUTRUNS the consumer — a consumer bootstrapping after
  *     the producer's keepLast=2 prune swept the bootstrap feed must
  *     FAIL LOUDLY (a silent skip would corrupt every group the swept
  *     generation touched).
  *  5. RESEED — the same gap with a snapshot source recovers onto the
  *     reference answer, marked 'reseed'.
  *  6. RESEED REPLAY — an un-committed reseed batch republishes
  *     byte-identically.
  *  7. STALLED consumer — its un-committed batch listed a generation the
  *     prune has since swept; the restart must fail loudly, in that
  *     replayed batch, and publish no frontier past or below its first
  *     run's.
  *
  * The relay chain and the min/max replica (second row): stage 2 equals
  * a recompute of stage 1, relay generations carry watermark rows, the
  * min/max replica and rollup equal a recompute (in step and after a
  * multi-generation catch-up), an un-committed min/max batch
  * republishes `up` and `down` row-identically, a late min/max consumer
  * and a late stage-2 consumer fail loudly behind retention, and a
  * watermark-only relay generation advances stage 2's frontier alone.
  */
class FeedConsumerSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def downOf(c: FeedConsumer): Seq[Seq[Any]] =
    c.state.readLatest("down").get.orderBy("seg").collect()
      .map(_.toSeq.toIndexedSeq).toIndexedSeq

  private def appliedOf(c: FeedConsumer): Long =
    c.state.readLatest("applied").get.head().getLong(0)

  /** Every message on `ex`'s cause chain. */
  private def messagesOf(ex: Throwable): Seq[String] =
    Iterator.iterate(ex)(_.getCause)
      .takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse(""))
      .toSeq

  test("decoupled consumer: catch-up, consumer-kill replay, producer " +
    "at-least-once no-op, and a loud failure behind the retention " +
    "window") {
    val s = spark
    val base = tmpDir("graft-fc-spec")
    // the in-step consumer (one run per producer generation), a
    // LAGGED one that sees only the bootstrap during the drive, and a
    // STALLED one whose bootstrap batch is un-committed later (step 7)
    val consumer = Cdc.changefeedConsumer(s, base, "consumer")
    val lagged = Cdc.changefeedConsumer(s, base, "lagged")
    val stalled = Cdc.changefeedConsumer(s, base, "stalled")
    val drive = Cdc.streamChangefeedDrive(s, sf, base, afterRun = gen => {
      consumer.runOnce()
      if (gen == 0L) { lagged.runOnce(); stalled.runOnce() }
    })
    val want = downOf(consumer)
    assert(want.nonEmpty)
    assert(appliedOf(consumer) == 2L,
      "in-step consumer must have applied the last generation")

    // 1. catch-up: lagged applied only v0 during the drive; one run now
    // must apply v1 and v2 (contiguous, still retained) in one tail
    assert(appliedOf(lagged) == 0L)
    lagged.runOnce()
    assert(appliedOf(lagged) == 2L)
    assert(downOf(lagged) == want,
      "multi-generation catch-up must land on the reference answer")

    // 2. consumer mid-drive kill: un-commit its newest batch and
    // restart — a REAL re-delivery through the foreachBatch path
    val lastCid = consumer.state.versions.max
    val cCommit = new org.apache.hadoop.fs.Path(
      s"$base/consumer/ck/commits/$lastCid")
    val fs = cCommit.getFileSystem(s.sessionState.newHadoopConf())
    assert(fs.exists(cCommit), s"expected consumer commit $lastCid")
    assert(fs.delete(cCommit, false))
    consumer.runOnce()
    assert(downOf(consumer) == want,
      "re-delivered consumer batch must republish byte-identically")
    assert(appliedOf(consumer) == 2L)

    // 3. producer at-least-once: un-commit the PRODUCER's batch 2 and
    // rerun it — feed v2 is rewritten (same content, new part files);
    // the consumer must see the new files and apply them as a no-op
    val pCommit = new org.apache.hadoop.fs.Path(s"${drive.ck}/commits/2")
    assert(fs.exists(pCommit), "expected a producer commit for batch 2")
    assert(fs.delete(pCommit, false))
    drive.runOnce()
    consumer.runOnce()
    assert(downOf(consumer) == want,
      "a replayed producer generation must apply as a no-op")
    assert(appliedOf(consumer) == 2L)

    // 4. a consumer bootstrapping NOW is beyond the retention window
    // (the producer's live keepLast=2 prune swept the bootstrap feed):
    // it must fail loudly, not silently skip the missing generation
    assert(drive.state.versions == Seq(1L, 2L))
    val late = Cdc.changefeedConsumer(s, base, "late")
    val messages = messagesOf(intercept[Exception](late.runOnce()))
    assert(messages.exists(_.contains("retention outran")),
      s"expected the retention-gap failure, got: $messages")

    // 5. the SAME gap with a reseed source configured RECOVERS: the
    // consumer re-bases on the producer's view@2 snapshot, marks the
    // batch 'reseed', advances its frontier to the snapshot version,
    // and lands on the reference answer
    val reseeded = Cdc.changefeedConsumer(s, base, "reseeded",
      withReseed = true)
    reseeded.runOnce()
    assert(downOf(reseeded) == want,
      "a reseeded consumer must land on the reference answer")
    assert(appliedOf(reseeded) == 2L,
      "the reseed must advance the frontier to the snapshot version")
    val viaRow = reseeded.state.readLatest("applied").get.head()
    assert(viaRow.getString(1) == "reseed",
      s"expected the reseed provenance marker, got ${viaRow.getString(1)}")

    // 6. reseed replay determinism: un-commit the reseed batch and
    // restart — the producer is quiescent, so the re-read snapshot is
    // identical and the re-delivered batch republishes byte-identically
    val rCid = reseeded.state.versions.max
    val rCommit = new org.apache.hadoop.fs.Path(
      s"$base/reseeded/ck/commits/$rCid")
    assert(fs.exists(rCommit) && fs.delete(rCommit, false))
    reseeded.runOnce()
    assert(downOf(reseeded) == want)
    assert(appliedOf(reseeded) == 2L)

    // 7. the stalled consumer's batch 0 listed feed v0, which the
    // producer's prune has since swept: un-commit that batch and
    // restart. The file source lists the swept file as absent, so the
    // re-delivered batch must fail loudly (the retention gap, or a
    // missing-file error) and never publish a frontier past v0
    assert(!drive.state.versions.contains(0L))
    assert(appliedOf(stalled) == 0L)
    val sCommit = new org.apache.hadoop.fs.Path(s"$base/stalled/ck/commits/0")
    assert(fs.exists(sCommit) && fs.delete(sCommit, false))
    val stalledMessages =
      messagesOf(intercept[Exception](stalled.runOnce()))
    assert(stalledMessages.exists(m => m.contains("retention outran") ||
        m.contains("FILE_NOT_EXIST") || m.contains("does not exist")),
      s"expected a retention-gap or missing-file failure, got: " +
        stalledMessages)
    stalled.state.versions.foreach(v =>
      assert(stalled.state.readAt("applied", v).head().getLong(0) < 1L,
        s"the stalled consumer published a frontier past v0 at $v"))
    assert(appliedOf(stalled) < 1L)
    // the replayed batch failed before publishing: no regressed frontier
    assert(appliedOf(stalled) == 0L,
      "the replayed batch must not republish a lower applied frontier")
  }

  test("feed chain: stage-2 matches a direct recompute of stage 1, " +
    "relay generations carry watermark rows, an empty relay generation " +
    "advances the downstream frontier without value change, and " +
    "stage-1 retention trips stage 2's gap check") {
    import org.apache.spark.sql.functions._
    val s = spark
    val base = tmpDir("graft-chain-spec")
    val c1 = Cdc.changefeedConsumer(s, base, "stage1", publishFeed = true)
    val c2 = Cdc.chainStage2Consumer(s, base, "stage1", "stage2")
    val stats = Cdc.changefeedStatsConsumer(s, base, "stats")
    // a LAGGED stats consumer: sees only the bootstrap in-drive, then
    // catches up generations 1+2 in ONE batch — the multi-generation
    // path where applyDelta's last-image-per-key collapse matters (a
    // group moved in gen 1 and re-summed in gen 2 appears in BOTH
    // feeds; upserting both images would break replica key-uniqueness)
    val statsLag = Cdc.changefeedStatsConsumer(s, base, "statsLag")
    val drive = Cdc.streamChangefeedDrive(s, sf, base, afterRun = gen => {
      c1.runOnce(); c2.runOnce(); stats.runOnce()
      if (gen == 0L) statsLag.runOnce()
    })

    def rows(df: org.apache.spark.sql.DataFrame, sort: String) =
      df.orderBy(sort).collect().map(_.toSeq.toIndexedSeq).toIndexedSeq

    // stage 2 == the letter rollup of stage 1's own final state
    val d1 = c1.state.readLatest("down").get
    val want2 = rows(d1.groupBy(substring(col("seg"), 1, 1).as("letter"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_rows")).as("sum_n_rows"),
        sum(col("sum_n_members")).as("sum_sum_n_members"),
        sum(col("sum_total_balance")).as("sum_sum_total_balance")),
      "letter")
    val got2 = rows(c2.state.readLatest("down").get, "letter")
    assert(got2 == want2,
      "stage 2 must equal the letter rollup of stage 1's rollup")

    // every retained relay generation carries exactly one watermark row
    c1.state.versions.foreach { v =>
      val f = c1.state.readAt("feed", v)
      assert(f.filter(col("op") === "w").count() == 1L,
        s"relay generation $v must carry one watermark row")
      assert(f.filter(col("op") === "w").head().isNullAt(0),
        "the watermark row must carry a null key")
    }

    // the decoupled min/max consumer's replica equals the producer's
    // view, and its rollup equals a direct recompute (extrema included)
    val view = drive.state.readLatest("agg").get.select(col("g"),
      col("n_members"), col("total").as("total_balance"))
    assert(rows(stats.state.readLatest("up").get, "g") == rows(view, "g"),
      "the applyDelta replica must equal the producer's view")
    val wantStats = rows(view
      .groupBy(substring_index(col("g"), "-", 1).as("seg"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_members")).as("sum_n_members"),
        sum(col("total_balance")).as("sum_total_balance"),
        min(col("total_balance")).as("mn"),
        max(col("total_balance")).as("mx")), "seg")
    assert(rows(stats.state.readLatest("down").get, "seg") == wantStats,
      "the decoupled stats rollup must match a direct recompute")

    // the lagged stats consumer catches up both generations in one
    // batch: the collapsed replica and the telescoped rollup must both
    // land exactly on the in-step consumer's state
    assert(statsLag.state.readLatest("applied").get.head().getLong(0)
      == 0L)
    statsLag.runOnce()
    assert(statsLag.state.readLatest("applied").get.head().getLong(0)
      == 2L)
    assert(rows(statsLag.state.readLatest("up").get, "g")
        == rows(stats.state.readLatest("up").get, "g"),
      "multi-generation catch-up must collapse to the same replica")
    assert(rows(statsLag.state.readLatest("down").get, "seg")
        == wantStats,
      "multi-generation catch-up must land on the same extrema rollup")

    // min/max consumer kill: un-commit its newest batch and rerun it —
    // the re-delivered batch re-folds its pre-batch replica and rollup
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sessionState.newHadoopConf())
    val upBefore = rows(stats.state.readLatest("up").get, "g")
    val downBefore = rows(stats.state.readLatest("down").get, "seg")
    val statsCid = stats.state.versions.max
    val statsCommit = new org.apache.hadoop.fs.Path(
      s"$base/stats/ck/commits/$statsCid")
    assert(fs.exists(statsCommit) && fs.delete(statsCommit, false))
    stats.runOnce()
    assert(stats.state.versions.max == statsCid)
    assert(rows(stats.state.readLatest("up").get, "g") == upBefore,
      "a re-delivered min/max batch must republish its replica unchanged")
    assert(rows(stats.state.readLatest("down").get, "seg") == downBefore,
      "a re-delivered min/max batch must republish its rollup unchanged")

    // a LATE min/max consumer is behind the producer's keepLast=2
    // retention: the shared gap check fails it loudly
    val statsMessages = messagesOf(intercept[Exception](
      Cdc.changefeedStatsConsumer(s, base, "statsLate").runOnce()))
    assert(statsMessages.exists(_.contains("retention outran")),
      s"expected the min/max retention-gap failure, got: $statsMessages")

    // stage-2 kill + re-delivery lands byte-identically
    val c2Cid = c2.state.versions.max
    val c2Commit = new org.apache.hadoop.fs.Path(
      s"$base/stage2/ck/commits/$c2Cid")
    assert(fs.exists(c2Commit) && fs.delete(c2Commit, false))
    c2.runOnce()
    assert(rows(c2.state.readLatest("down").get, "letter") == want2)

    // a producer replay makes stage 1's next batch a NO-OP: its relay
    // generation is watermark-only, and stage 2 must still REGISTER it
    // (frontier advances) without any value change — the soundness the
    // in-band watermark exists to provide (an unregistered empty
    // generation would trip the gap check as swept on the next real one)
    val frontierBefore = c2.state.readLatest("applied").get
      .head().getLong(0)
    val pCommit = new org.apache.hadoop.fs.Path(s"${drive.ck}/commits/2")
    assert(fs.exists(pCommit) && fs.delete(pCommit, false))
    drive.runOnce()
    c1.runOnce()
    val relayCid = c1.state.versions.max
    val relayed = c1.state.readAt("feed", relayCid)
    assert(relayed.count() == 1L &&
      relayed.head().getString(1) == "w",
      "a no-op stage-1 batch must relay a watermark-only generation")
    c2.runOnce()
    assert(c2.state.readLatest("applied").get.head().getLong(0)
        == relayCid,
      "stage 2 must advance its frontier through the watermark")
    assert(relayCid > frontierBefore)
    assert(rows(c2.state.readLatest("down").get, "letter") == want2,
      "a watermark-only generation must not move stage 2's values")

    // a LATE stage-2 consumer is now behind stage 1's own keepLast=2
    // retention — the gap check is hop-local and must fail loudly here
    // too
    assert(c1.state.versions.size == 2)
    val late2 = Cdc.chainStage2Consumer(s, base, "stage1", "late2")
    val messages = messagesOf(intercept[Exception](late2.runOnce()))
    assert(messages.exists(_.contains("retention outran")),
      s"expected the stage-2 retention-gap failure, got: $messages")
  }

  test("a null feed_version fails the consumer batch loudly, naming the " +
      "batch and the invariant") {
    import spark.implicits._
    val ok = Seq((Some(3L), "a"), (Some(1L), "b"), (Some(3L), "c"))
      .toDF("feed_version", "k")
    assert(FeedConsumer.feedVersions(ok, 4L) == Seq(1L, 3L))
    val bad = Seq((Some(2L), "a"), (None, "b")).toDF("feed_version", "k")
    val e = intercept[IllegalStateException](FeedConsumer.feedVersions(bad, 9L))
    assert(e.getMessage.contains("batch 9") &&
      e.getMessage.contains("feed_version is non-null"), e.getMessage)
  }
}
