package graft.queries

import graft.SparkSpec
import graft.cdc.MockSchemeFileSystem

/** Pins the gate fixture plumbing's cluster portability (round-9
  * verdict item #6): `gateTmpDir` / `stageOnce` / `Drive` landing path
  * handling must resolve through the Hadoop FileSystem API only. The
  * whole streaming-FK-IVM gate — per-JVM scratch dir, staged fixture
  * build, per-generation file copies, streaming source + checkpoint,
  * VersionedState publishes — runs with the fixture root pointed at a
  * registered NON-`file:` scheme, where the former `java.io.File`
  * listing/mtime walk would silently see nothing, and must land on the
  * batch gate's exact result (delivery-mode independence, now also
  * scheme-independent).
  */
class FixtureStagingSpec extends SparkSpec {

  test("the streaming FK IVM gate runs end-to-end with the fixture " +
    "root on a non-file scheme and matches the batch gate") {
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${MockSchemeFileSystem.Scheme}.impl",
      classOf[MockSchemeFileSystem].getName)
    val localRoot = tmpDir("graft-fixroot")
    val prev = sys.props.get("graft.fixture.root")
    sys.props("graft.fixture.root") =
      s"${MockSchemeFileSystem.Scheme}://$localRoot"
    try {
      val d = "/root/testdata/sf0.001"
      def fold(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getAs[String]("g") ->
          ((r.getAs[Number]("n_members").longValue,
            r.getAs[Number]("total_amount").longValue,
            r.getAs[String]("maintained_via")))).toMap
      val streamed = fold(Cdc.qCdcFkStreamIvm(spark, d))
      // the staged tree really lives under the mock-scheme root (the
      // scheme is local-disk-backed, so the underlying dir is visible),
      // in the staged space of this JVM's scratch dir
      val staged = Option(new java.io.File(localRoot).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .flatMap(j => Option(new java.io.File(j, "staged").list())
          .getOrElse(Array.empty[String]))
      assert(staged.exists(_.startsWith("graft_fk_stream_ivm")),
        s"fixtures did not stage under the mock root: ${staged.toSeq}")
      val batch = fold(Cdc.qCdcFkAggView(spark, d))
      assert(streamed == batch,
        s"non-file-scheme streamed result drifted from batch:\n" +
          s" streamed=${streamed.toSeq.sortBy(_._1)}\n" +
          s" batch=${batch.toSeq.sortBy(_._1)}")
    } finally prev match {
      case Some(p) => sys.props("graft.fixture.root") = p
      case None => sys.props.remove("graft.fixture.root"): Unit
    }
  }
}
