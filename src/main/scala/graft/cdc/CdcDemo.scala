package graft.cdc

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

import graft.EngineTuning
import graft.sources.CdcDataSource
import graft.streaming.Drive

/** Runnable end-to-end demo of the reference pipeline
  * (`scripts/verify.sh:382-417` flow, minus Kubernetes):
  *
  *   1. snapshot phase — existing `customers` rows replayed as `op='r'`
  *      envelopes through the SAME enrichment (Debezium `snapshot.mode:
  *      initial` semantics),
  *   2. live phase — c/u/d change events streamed from the same
  *      `graft-cdc` log dir (stands in for the Debezium topic), enriched,
  *      checkpointed,
  *   3. verification read-back — consume the enriched output and print one
  *      event, like `pulsar-client consume -n 1` in the reference.
  *
  *   sbt "runMain graft.cdc.CdcDemo /tmp/cdc-demo"
  *
  * Every run starts from a wiped base dir, so it can be repeated.
  */
object CdcDemo {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/tmp/cdc-demo")
    val spark = EngineTuning.session(defaultCpus = "4")
    Drive.fresh(spark, base)
    import spark.implicits._

    // 1. snapshot: existing rows become op='r' envelopes written into the
    // SAME stream the live changes arrive on — exactly how Debezium's
    // snapshot.mode=initial replays through the topic
    val existing = Seq(
      (1, "Test User", "test@example.com", 1763741883901236L),
      (2, "Alice Smith", "alice@example.com", 1763741883901237L))
      .toDF("id", "name", "email", "created_at")
    CdcSource.snapshot(existing, "inventory", "public", "customers")
      .coalesce(1).write.format("graft-cdc").mode("append").save(s"$base/in")
    println(s"[demo] snapshot: ${existing.count()} rows replayed as op='r'")

    // 2. live change stream: one insert + one update + one delete + garbage
    val events = Seq(
      """{"before":null,"after":{"id":3,"name":"New User","email":"new@corp.io","created_at":1763742000000000},"source":{"version":"1.9.7.Final","connector":"postgresql","name":"dbserver1","ts_ms":1763742000100,"snapshot":"false","db":"inventory","schema":"public","table":"customers","txId":749,"lsn":27565800},"op":"c","ts_ms":1763742000200}""",
      """{"before":{"id":2,"name":"Alice Smith","email":"alice@example.com","created_at":1763741883901237},"after":{"id":2,"name":"Alice Jones","email":"alice@newmail.org","created_at":1763741883901237},"source":{"version":"1.9.7.Final","connector":"postgresql","name":"dbserver1","ts_ms":1763742001000,"snapshot":"false","db":"inventory","schema":"public","table":"customers","txId":750,"lsn":27565900},"op":"u","ts_ms":1763742001100}""",
      """{"before":{"id":1,"name":"Test User","email":"test@example.com","created_at":1763741883901236},"after":null,"source":{"version":"1.9.7.Final","connector":"postgresql","name":"dbserver1","ts_ms":1763742002000,"snapshot":"false","db":"inventory","schema":"public","table":"customers","txId":751,"lsn":27566000},"op":"d","ts_ms":1763742002100}""",
      "not-json{{{")
    // the source reads in name order: "changes" sorts after the
    // snapshot's b<seq> files
    Files.write(Paths.get(base, "in", "changes.jsonl"),
      events.mkString("\n").getBytes)
    CdcPipeline.startV2(spark, s"$base/in", s"$base/out", s"$base/ckpt")
      .awaitTermination()
    println("[demo] live stream drained (AvailableNow)")

    // 3. verification read-back (the reference's `pulsar-client consume`)
    val out = spark.read.format("graft-cdc")
      .schema(CdcDataSource.ValueOnlySchema).load(s"$base/out")
    val n = out.count()
    val enriched = out.filter(col("value").contains("\"enrichment\""))
    val passthrough = out.filter(col("value") === "not-json{{{")
    println(s"[demo] enriched topic: $n messages " +
      s"(${enriched.count()} enriched, ${passthrough.count()} raw passthrough)")
    println("[demo] sample enriched event:")
    println(enriched.filter(col("value").contains("\"op\":\"u\"")).head().getString(0))
    assert(n == 6, s"expected 6 output messages, got $n")
    spark.stop()
    println("[demo] OK")
  }
}
