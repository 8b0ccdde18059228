package graft.cdc

import graft.SparkSpec

/** A real Hadoop FileSystem registered under a NON-`file:` scheme, backed
  * by the local disk. Hadoop instantiates it reflectively from the
  * `fs.graftmock.impl` conf key, exactly as it would an HDFS or object
  * store client — so any code path that only works through `java.io.File`
  * breaks under this scheme while FileSystem-API code keeps working.
  */
class MockSchemeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI =
    java.net.URI.create(MockSchemeFileSystem.Scheme + ":///")
  override def getScheme: String = MockSchemeFileSystem.Scheme
}
object MockSchemeFileSystem { val Scheme = "graftmock" }

/** [[MockSchemeFileSystem]]'s twin under its own scheme whose `delete`
  * throws on the paths ending in [[FaultyDeleteFileSystem.failOn]] — a
  * store that fails partway through a prune.
  */
class FaultyDeleteFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI =
    java.net.URI.create(FaultyDeleteFileSystem.Scheme + ":///")
  override def getScheme: String = FaultyDeleteFileSystem.Scheme
  override def delete(p: org.apache.hadoop.fs.Path,
      recursive: Boolean): Boolean =
    if (FaultyDeleteFileSystem.failOn.exists(p.toUri.getPath.endsWith))
      throw new java.io.IOException(s"injected delete failure: $p")
    else super.delete(p, recursive)
}
object FaultyDeleteFileSystem {
  val Scheme = "graftfaulty"
  @volatile var failOn: Option[String] = None
}

/** Pins [[VersionedState]]'s cluster portability: version discovery,
  * reads, and idempotent publishes must all resolve through the Hadoop
  * FileSystem API, proven against a non-`file:` scheme where the round-8
  * `java.io.File` listing bug would silently see nothing.
  */
class VersionedStateSpec extends SparkSpec {

  private lazy val store: String = {
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${MockSchemeFileSystem.Scheme}.impl",
      classOf[MockSchemeFileSystem].getName)
    s"${MockSchemeFileSystem.Scheme}://${tmpDir("graft-vstate")}/store"
  }

  private def df(rows: Seq[(String, Long)]) = {
    val s = spark; import s.implicits._
    rows.toDF("g", "total")
  }

  test("latestVersion resolves through the Hadoop API on a non-file scheme") {
    val vs = new VersionedState(spark, store)
    assert(vs.latestVersion.isEmpty, "empty store must report no version")

    vs.publish("agg", 0L, df(Seq(("a", 1L))))
    vs.publish("agg", 3L, df(Seq(("a", 2L), ("b", 5L))))
    assert(vs.latestVersion.contains(3L))

    // the exact round-8 bug: a java.io.File listing of the same store
    // sees NOTHING under a non-local scheme (no error, just None-shaped
    // emptiness) — the regression this spec exists to catch
    assert(new java.io.File(s"$store/agg").listFiles() == null)

    val latest = vs.readLatest("agg").get.collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(latest.toSeq == Seq(("a", 2L), ("b", 5L)))
  }

  test("publish is idempotent under batch-id replay") {
    val vs = new VersionedState(spark, store)
    // checkpoint-replayed foreachBatch re-delivers the same batch id:
    // the overwrite must land the replayed content, not fail or append
    vs.publish("agg", 3L, df(Seq(("a", 2L), ("b", 5L))))
    assert(vs.latestVersion.contains(3L))
    assert(vs.readLatest("agg").get.count() == 2)
  }

  test("anchor kind alone drives version discovery") {
    val vs = new VersionedState(spark, store)
    // a kind written by a batch whose manifest never commits (the
    // torn-batch crash window) must NOT advance the visible version
    vs.write(7L, "aState" -> df(Seq(("x", 9L))))
    assert(vs.latestVersion.contains(3L))
    assert(vs.readLatest("agg").get.count() == 2)
  }

  test("bounded read excludes the batch's own publish: a replayed " +
    "foreachBatch folds into the PRE-batch state, never its own") {
    val vs = new VersionedState(spark, store)
    // the crash window this guards: batch 3's publish completed but the
    // streaming checkpoint never committed it; on restart batch 3 is
    // re-delivered. An unbounded read returns v3 (the batch's own
    // result) — a non-idempotent step would double-apply its delta.
    assert(vs.latestVersionBefore(0L).isEmpty) // batch 0's replay: fresh
    assert(vs.readLatestBefore("agg", 0L).isEmpty)
    // store holds agg v0 (1 row) and v3 (2 rows) from the tests above:
    // batch 3's own replay must see v0, not its own v3
    assert(vs.latestVersionBefore(3L).contains(0L))
    assert(vs.readLatestBefore("agg", 3L).get.count() == 1)
    vs.publish("agg", 5L, df(Seq(("c", 1L))))
    // batch 5's own replay sees v3; anything later sees v5
    assert(vs.latestVersionBefore(5L).contains(3L))
    assert(vs.readLatestBefore("agg", 5L).get.count() == 2)
    assert(vs.latestVersionBefore(6L).contains(5L))
    assert(vs.readLatestBefore("agg", 6L).get.count() == 1)
    // unbounded stays the overall latest
    assert(vs.latestVersion.contains(5L))
  }

  test("prune retains the newest K anchor versions, sweeps every kind " +
    "by the same retained set, and keeps time-travel reads consistent") {
    // self-contained store layout (round-11 advisory: the old version
    // of this test depended on the earlier tests' accumulated state, so
    // isolation or reordering broke it): agg v0 (1 row) / v3 (2 rows) /
    // v5 (1 row), plus a torn side-state write aState v7 whose manifest
    // never landed
    val pruneStore = s"$store-prune"
    val vs = new VersionedState(spark, pruneStore)
    vs.publish("agg", 0L, df(Seq(("a", 1L))))
    vs.publish("agg", 3L, df(Seq(("a", 2L), ("b", 5L))))
    vs.publish("agg", 5L, df(Seq(("c", 1L))))
    vs.write(7L, "aState" -> df(Seq(("x", 9L))))
    assert(vs.versions == Seq(0L, 3L, 5L))
    vs.prune(keepLast = 2)
    assert(vs.versions == Seq(3L, 5L))
    // pruned version unreachable; retained ones intact
    assert(vs.readLatestBefore("agg", 3L).isEmpty)
    assert(vs.readLatestBefore("agg", 5L).get.count() == 2)
    assert(vs.readLatest("agg").get.count() == 1)
    // the torn uncommitted version is swept by the SAME retained set
    // (orphan cleanup — no manifest ever lists it)
    val fs = new org.apache.hadoop.fs.Path(pruneStore)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(
      !fs.exists(new org.apache.hadoop.fs.Path(s"$pruneStore/aState/v7")))
    // down to one: latest survives, history is gone
    vs.prune(keepLast = 1)
    assert(vs.versions == Seq(5L))
    assert(vs.readLatest("agg").get.count() == 1)
    intercept[IllegalArgumentException](vs.prune(0))
  }

  test("a prune that fails partway leaves every listed version readable " +
    "(a version is retired by its manifest before its kinds)") {
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${FaultyDeleteFileSystem.Scheme}.impl",
      classOf[FaultyDeleteFileSystem].getName)
    val dir = tmpDir("graft-vstate-fault")
    val vs = new VersionedState(spark,
      s"${FaultyDeleteFileSystem.Scheme}://$dir/store")
    val kinds = Seq("aState", "bState", "agg")
    Seq(0L, 3L, 5L).foreach(v =>
      vs.commit(v, vs.write(v, kinds.map(k => k -> df(Seq((k, v)))): _*)))
    // the store dies deleting one kind of the retired version 0
    FaultyDeleteFileSystem.failOn = Some("/agg/v0")
    try intercept[java.io.IOException](vs.prune(keepLast = 2))
    finally FaultyDeleteFileSystem.failOn = None
    assert(vs.versions.nonEmpty)
    for (v <- vs.versions; k <- kinds)
      assert(vs.readAt(k, v).collect().map(_.getLong(1)).toSeq == Seq(v),
        s"$k at listed version $v")
    // the next prune finishes the sweep
    vs.prune(keepLast = 2)
    assert(vs.versions == Seq(3L, 5L))
  }

  test("a stray non-numeric v* directory is skipped, not thrown on") {
    // a killed writer can leave a temp directory whose name starts with
    // 'v' but isn't a version (e.g. a copy tool's v5.parquet_tmp); reads
    // of the store must keep working rather than die in Long parsing
    val junkStore = s"$store-junk"
    val vs = new VersionedState(spark, junkStore)
    vs.publish("agg", 2L, df(Seq(("a", 1L))))
    val fs = new org.apache.hadoop.fs.Path(junkStore)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$junkStore/agg/v5_tmp"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$junkStore/agg/vgarbage"))
    assert(vs.versions == Seq(2L))
    assert(vs.latestVersion.contains(2L))
    assert(vs.readLatest("agg").get.count() == 1)
    // prune must also tolerate (and not misparse) the stray entries
    vs.publish("agg", 4L, df(Seq(("b", 2L))))
    vs.prune(keepLast = 1)
    assert(vs.versions == Seq(4L))
  }

  test("prune reclaims AGED unparseable strays but never fresh ones " +
    "(round-12 advisory: skipped strays used to accumulate forever)") {
    val strayStore = s"$store-stray"
    val vs = new VersionedState(spark, strayStore)
    vs.publish("agg", 1L, df(Seq(("a", 1L))))
    val fs = new org.apache.hadoop.fs.Path(strayStore)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val aged = new org.apache.hadoop.fs.Path(s"$strayStore/agg/v3_tmp")
    val fresh = new org.apache.hadoop.fs.Path(s"$strayStore/agg/v4_tmp")
    fs.mkdirs(aged)
    fs.mkdirs(fresh)
    // age one stray past the safety window; leave the other current —
    // the sweep must take exactly the aged one (a live writer's staging
    // directory must never be deleted from under it)
    fs.setTimes(aged, System.currentTimeMillis() - 60 * 60 * 1000L, -1)
    vs.prune(keepLast = 1, strayTtlMs = 10 * 60 * 1000L)
    assert(!fs.exists(aged), "aged stray should have been reclaimed")
    assert(fs.exists(fresh), "fresh stray must survive the sweep")
    assert(vs.versions == Seq(1L))
  }

  test("publishConcurrently: independent non-anchor kinds land in " +
      "parallel, the anchor is rejected, and anchor-gated visibility " +
      "is unchanged") {
    val s2 = s"$store-conc"
    val vs = new VersionedState(spark, s2)
    // every kind of the batch written at once, the manifest strictly
    // after — the drive handlers' exact shape
    val manifest = vs.write(1L, "aState" -> df(Seq(("a", 1L))),
      "bState" -> df(Seq(("b", 2L))), "agg" -> df(Seq(("g", 3L))))
    val fs = new org.apache.hadoop.fs.Path(s2)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(Seq("aState", "bState", "agg").forall(k =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$s2/$k/v1/_SUCCESS"))))
    // before the manifest lands, nothing is visible through versioned
    // reads
    assert(vs.latestVersion.isEmpty)
    vs.commit(1L, manifest)
    assert(vs.versions == Seq(1L))
    assert(vs.readLatest("aState").get.collect().map(_.getLong(1)).toSeq
      == Seq(1L))
    assert(vs.readLatest("bState").get.collect().map(_.getLong(1)).toSeq
      == Seq(2L))
  }

  /** A frame whose write job fails at run time with `msg`. */
  private def failing(msg: String) = {
    import org.apache.spark.sql.functions.{coalesce, lit, raise_error}
    spark.range(1).select(
      coalesce(raise_error(lit(msg)).cast("long"), lit(1L)).as("x"))
  }

  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(c => String.valueOf(c.getMessage)).toSeq

  test("publishConcurrently: when two kinds fail, both errors surface " +
      "(one thrown, the other suppressed on it)") {
    val vs = new VersionedState(spark, s"$store-conc-fail")
    val e = intercept[Throwable] {
      vs.write(1L, "aState" -> failing("boom-aState"),
        "bState" -> failing("boom-bState"), "cState" -> df(Seq(("c", 1L))))
    }
    def failed(t: Throwable) = Seq("aState", "bState")
      .filter(k => messages(t).exists(_.contains(s"boom-$k")))
    // Spark may attach suppressed traces of its own; ours is the other kind
    assert(failed(e).length == 1 &&
      e.getSuppressed.toSeq.flatMap(failed).toSet ==
        Set("aState", "bState") -- failed(e),
      (e +: e.getSuppressed.toSeq).flatMap(messages).mkString("\n"))
    assert(vs.latestVersion.isEmpty)
  }

  test("publishConcurrently: a caller interrupted while it waits keeps " +
      "its interrupt flag, and every publish is joined before it returns") {
    import org.apache.spark.sql.functions.udf
    val vs = new VersionedState(spark, s"$store-conc-intr")
    val slowOne = udf { () => Thread.sleep(8000); 1L }.asNondeterministic()
    val caller = Thread.currentThread()
    // interrupt the caller once its own write is done and it is joining
    // the other one's thread (an interrupt during a Spark job may be
    // consumed inside Spark or Hadoop, which is not this contract)
    def joiningPublisher: Boolean = {
      val st = caller.getStackTrace
      st.indices.dropRight(1).exists(i =>
        st(i).getClassName == "java.lang.Thread" &&
          st(i).getMethodName == "join" &&
          st(i + 1).getClassName.startsWith(classOf[VersionedState].getName))
    }
    val interrupter = new Thread(() => {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!joiningPublisher && System.nanoTime() < deadline)
        Thread.sleep(10)
      caller.interrupt()
    })
    interrupter.start()
    try vs.write(1L, "aState" -> df(Seq(("a", 1L))),
      "bState" -> spark.range(1).select(slowOne().as("x")))
    catch { case _: Throwable => () } // the interrupted write may fail
    finally {
      interrupter.join()
      assert(Thread.interrupted(), "interrupt flag was swallowed")
    }
    assert(!Thread.getAllStackTraces.keySet.toArray.exists(
      _.asInstanceOf[Thread].getName == "graft-publish-bState-v1"),
      "a publisher thread outlived the call")
  }
}
