package graft.cdc

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** Streaming E2E: `graft-cdc` log → enrich → `graft-cdc` log with
  * checkpointing, including the restart/no-reprocess property that upgrades
  * the reference's at-least-once bar (SURVEY.md §2.9, §5.2-3).
  */
class CdcPipelineSpec extends SparkSpec {

  private val event =
    """{"before":null,"after":{"id":%d,"name":"U%d","email":"u%d@example.com","created_at":1763741883901236},"source":{"version":"1.9.7.Final","connector":"postgresql","name":"dbserver1","ts_ms":1763741883902,"snapshot":"false","db":"inventory","schema":"public","table":"customers","txId":746,"lsn":%d},"op":"c","ts_ms":1763741884346}"""

  private def writeBatch(dir: String, name: String, ids: Range): Unit =
    Files.write(Paths.get(dir, s"$name.jsonl"),
      ids.map(i => event.format(i, i, i, 27565000 + i)).mkString("\n").getBytes)

  /** Reference layout: the same routed records through Spark's own `text`
    * file source and a `text` sink partitioned by `source_table`.
    */
  private def textTransport(in: String, out: String, ckpt: String,
      cfg: EnrichConfig): Unit =
    CdcPipeline.routedValues(spark.readStream.text(in), cfg)
      .writeStream.format("text").partitionBy("source_table")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()

  test("streaming enrich end-to-end with checkpoint restart") {
    val in = tmpDir("cdc-in")
    val out = tmpDir("cdc-out")
    val ckpt = tmpDir("cdc-ckpt")
    val cfg = EnrichConfig(processingTimeIso = Some("2026-01-01T00:00:00"))

    writeBatch(in, "batch1", 1 to 20)
    CdcPipeline.startV2(spark, in, out, ckpt, cfg).awaitTermination()
    val first = spark.read.text(out).collect().map(_.getString(0))
    assert(first.length == 20)
    assert(first.forall(_.contains("\"enrichment\"")))

    // restart with new data only → checkpoint skips batch1
    writeBatch(in, "batch2", 21 to 30)
    CdcPipeline.startV2(spark, in, out, ckpt, cfg).awaitTermination()
    val all = spark.read.text(out).collect().map(_.getString(0))
    assert(all.length == 30, "restart must process exactly the new files")
    assert(all.count(_.contains("u25@example.com")) == 1)
  }

  test("observable metrics report enriched vs passthrough counts (P19)") {
    val in = tmpDir("cdc-met-in")
    val out = tmpDir("cdc-met-out")
    val ckpt = tmpDir("cdc-met-ckpt")
    writeBatch(in, "good", 1 to 7)
    Files.write(Paths.get(in, "bad.jsonl"), "not-json{{{\nnope[[[".getBytes)
    val q = CdcPipeline.startV2(spark, in, out, ckpt,
      EnrichConfig(processingTimeIso = Some("t")))
    q.awaitTermination()
    val metrics = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("cdc_enrich")))
    val total = metrics.map(_.getLong(0)).sum
    val enriched = metrics.map(_.getLong(1)).sum
    val passthrough = metrics.map(_.getLong(2)).sum
    assert(total == 9 && enriched == 7 && passthrough == 2,
      s"got total=$total enriched=$enriched passthrough=$passthrough")
  }

  test("batch twin (snapshot replay path) shares the transform") {
    val in = tmpDir("cdc-bin")
    val out = tmpDir("cdc-bout")
    writeBatch(in, "snap", 1 to 5)
    CdcPipeline.runBatch(spark, in, out,
      EnrichConfig(processingTimeIso = Some("2026-01-01T00:00:00")))
    val rows = spark.read.text(out).collect().map(_.getString(0))
    assert(rows.length == 5 && rows.forall(_.contains("\"op\":\"c\"")))
  }

  test("pipeline at volume: 1000 events-table rows as envelopes") {
    val in = tmpDir("cdc-vol-in")
    val out = tmpDir("cdc-vol-out")
    val ckpt = tmpDir("cdc-vol-ckpt")
    // non-customers payload (no email key): exercises the dynamic-schema
    // path (field_count over arbitrary keys, insights struct absent)
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "event_type", "value", "props")
    CdcSource.snapshot(ev, "appdb", "public", "events")
      .coalesce(2).write.mode("overwrite").text(in)
    CdcPipeline.startV2(spark, in, out, ckpt,
      EnrichConfig(processingTimeIso = Some("t"))).awaitTermination()
    val res = spark.read.text(out)
    assert(res.count() == 1000)
    import org.apache.spark.sql.functions.col
    assert(res.filter(col("value").contains("\"field_count\":5")).count() == 1000)
    assert(res.filter(col("value").contains("customer_insights")).count() == 0)
    assert(res.filter(col("value").contains("\"table\":\"events\"")).count() == 1000)
  }

  test("per-table fan-out: envelopes land in source_table partitions") {
    val in = tmpDir("cdc-fan-in")
    val out = tmpDir("cdc-fan-out")
    val ckpt = tmpDir("cdc-fan-ckpt")
    val orders = event.replace("\"table\":\"customers\"", "\"table\":\"orders\"")
    Files.write(Paths.get(in, "mixed.jsonl"),
      (Seq(event.format(1, 1, 1, 1), orders.format(2, 2, 2, 2), "garbage{{{"))
        .mkString("\n").getBytes)
    textTransport(in, out, ckpt, EnrichConfig(processingTimeIso = Some("t")))
    // one output directory per source table, like one topic per table
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_ == "_spark_metadata").toSet
    assert(dirs == Set("source_table=customers", "source_table=orders",
      "source_table=_unrouted"), s"got $dirs")
    val cust = spark.read.text(s"$out/source_table=customers")
      .collect().map(_.getString(0))
    assert(cust.length == 1 && cust(0).contains("\"enrichment\""))
    val raw = spark.read.text(s"$out/source_table=_unrouted")
      .collect().map(_.getString(0))
    assert(raw.sameElements(Array("garbage{{{")))
  }

  test("startV2 scans the raw line only (readSchema struct<value:string>) " +
      "and writes the same bytes per table as the text-transport start") {
    val in = tmpDir("cdc-v2scan-in")
    val orders = event.replace("\"table\":\"customers\"", "\"table\":\"orders\"")
    Files.write(Paths.get(in, "00000.jsonl"),
      Seq(event.format(1, 1, 1, 1), orders.format(2, 2, 2, 2), "garbage{{{",
        event.format(3, 3, 3, 3), "", "").mkString("\n").getBytes("UTF-8") ++
        Array(0xFF.toByte, '{'.toByte, '\n'.toByte))
    val cfg = EnrichConfig(processingTimeIso = Some("2026-01-01T00:00:00"))
    val outText = tmpDir("cdc-v2scan-text")
    textTransport(in, outText, tmpDir("cdc-v2scan-text-ck"), cfg)
    val outV2 = tmpDir("cdc-v2scan-v2")
    val q = CdcPipeline.startV2(spark, in, outV2, tmpDir("cdc-v2scan-v2-ck"),
      cfg, fanOutByTable = true)
    q.awaitTermination()

    import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val scans = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan.collect {
        case s: MicroBatchScanExec => s.scan.readSchema().simpleString
      }
    assert(scans == Seq("struct<value:string>"), scans)

    // both sinks end every line, the last one too, with '\n'
    def splitLines(bytes: Array[Byte]): Seq[Seq[Byte]] = {
      val lines = Seq.newBuilder[Seq[Byte]]
      var start = 0
      bytes.indices.foreach { i =>
        if (bytes(i) == '\n') { lines += bytes.slice(start, i).toSeq; start = i + 1 }
      }
      lines.result().sortBy(_.mkString(","))
    }
    // table -> its output lines as raw bytes, sorted
    def tables(out: String, dirPrefix: String): Map[String, Seq[Seq[Byte]]] =
      new java.io.File(out).listFiles().toSeq
        .filter(d => d.isDirectory && d.getName != "_spark_metadata")
        .map { d =>
          val bytes = d.listFiles().toSeq
            .filter(f => f.isFile && !f.getName.startsWith(".") &&
              !f.getName.startsWith("_"))
            .flatMap(f => Files.readAllBytes(f.toPath))
          d.getName.stripPrefix(dirPrefix) -> splitLines(bytes.toArray)
        }.toMap
    val text = tables(outText, "source_table=")
    val v2 = tables(outV2, "")
    assert(text.keySet == Set("customers", "orders", "_unrouted"), text.keySet)
    assert(v2 == text)
    assert(text("customers").length == 2 && text("_unrouted").length == 3)
  }

  test("snapshot() wraps batch rows as op=r envelopes through enrichment") {
    import spark.implicits._
    val table = Seq((1, "Ann", "ann@x.org"), (2, "Bob", "bob@y.io"))
      .toDF("id", "name", "email")
    val env = CdcSource.snapshot(table, "inventory", "public", "customers",
      fixedTsMs = Some(1700000000123L))
    val enriched = Enrich(env, EnrichConfig(processingTimeIso = Some("t")))
    val rows = enriched
      .selectExpr("envelope.op", "enrichment.operation.label",
        "enrichment.source_metadata.is_snapshot",
        "enrichment.data_quality.field_count",
        "enrichment.customer_insights.email_domain")
      .collect()
    assert(rows.forall(r => r.getString(0) == "r" && r.getString(1) == "READ"
      && r.getBoolean(2) && r.getInt(3) == 3))
    assert(rows.map(_.getString(4)).toSet == Set("x.org", "y.io"))
  }

  test("a ts_ms past timestamp_millis' range passes through: the drain " +
      "completes with the line under _unrouted") {
    val in = tmpDir("cdc-poison-in")
    val out = tmpDir("cdc-poison-out")
    val poison = """{"op":"c","ts_ms":9300000000000000,"source":{"table":"customers"}}"""
    Files.write(Paths.get(in, "00000.jsonl"),
      (Seq(event.format(1, 1, 1, 1), poison, event.format(2, 2, 2, 2))
        .mkString("\n") + "\n").getBytes("UTF-8"))
    val q = CdcPipeline.startV2(spark, in, out, tmpDir("cdc-poison-ck"),
      EnrichConfig(processingTimeIso = Some("t")), fanOutByTable = true)
    q.awaitTermination()
    assert(q.exception.isEmpty)
    import spark.implicits._
    def log(t: String) = spark.read.format("graft-cdc").load(s"$out/$t")
      .select("value").as[String].collect().toSeq
    assert(log("_unrouted") == Seq(poison))
    assert(log("customers").length == 2)
  }
}
