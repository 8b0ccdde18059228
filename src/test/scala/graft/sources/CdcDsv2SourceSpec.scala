package graft.sources

import graft.SparkSpec
import graft.cdc.CdcEnvelope
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** DataSource V2 CDC table (`format("graft-cdc")`): batch parity with the
  * `read.text` + `CdcEnvelope.parse` path, parser-level column pruning,
  * PERMISSIVE malformed-line semantics, offset-tracked streaming tail with
  * checkpoint resume, and loud failure on out-of-order file names.
  */
class CdcDsv2SourceSpec extends SparkSpec {

  private val good =
    """{"before":null,"after":{"id":7,"name":"Kay","email":"kay@k.org","created_at":1},"source":{"version":"v","connector":"postgresql","name":"dbserver1","ts_ms":5,"snapshot":"false","db":"inventory","schema":"public","table":"customers","txId":1,"lsn":2},"op":"c","ts_ms":1763741884346}"""
  private val del =
    """{"before":{"id":8,"name":"Del","email":null,"created_at":2},"after":null,"source":{"version":"v","connector":"postgresql","name":"dbserver1","ts_ms":6,"snapshot":"false","db":"inventory","schema":"public","table":"customers","txId":2,"lsn":3},"op":"d","ts_ms":1763741884347}"""
  private val bad = "not-json{{{"

  private def writeFile(dir: String, name: String, lines: String*): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, name),
      lines.mkString("\n").getBytes("UTF-8"))

  test("batch read matches read.text + CdcEnvelope.parse on every field") {
    val dir = tmpDir("dsv2_parity")
    writeFile(dir, "00000.jsonl", good, del)
    writeFile(dir, "00001.jsonl", bad)

    val v2 = spark.read.format("graft-cdc").load(dir)
      .select("value", "before", "after", "source", "op", "ts_ms")
    val baseline = CdcEnvelope.parse(spark.read.text(dir)
        .withColumnRenamed("value", "raw").withColumn("value", col("raw")))
      .select(col("value"), col("envelope.before").as("before"),
        col("envelope.after").as("after"), col("envelope.source").as("source"),
        col("envelope.op").as("op"), col("envelope.ts_ms").as("ts_ms"))

    assert(v2.schema == baseline.schema)
    assert(v2.collect().map(_.toString).sorted.toSeq ==
      baseline.collect().map(_.toString).sorted.toSeq)
  }

  test("CR-terminated payloads split like Hadoop's line reader: lone \\r, " +
      "\\r\\n, and \\n all terminate; parity with read.text holds") {
    val dir = tmpDir("dsv2_cr")
    // a lone CR between two envelopes, a CRLF pair, and a trailing CR:
    // every terminator Hadoop's default LineReader recognizes
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "00000.jsonl"),
      s"$good\r$del\r\n$bad\rtail-after-cr\n".getBytes("UTF-8"))
    val v2 = spark.read.format("graft-cdc").load(dir)
      .select("value", "op").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).sorted.toSeq
    val baseline = CdcEnvelope.parse(spark.read.text(dir))
      .select(col("value"), col("envelope.op")).collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).sorted.toSeq
    assert(v2 == baseline, s"v2=$v2 baseline=$baseline")
    assert(v2.length == 4, s"lone CR must terminate a line: $v2")
  }

  /** Writes `bytes` as one log file and checks that the V2 scan yields
    * exactly `expected`, byte for byte and in order, and that `read.text`
    * yields the same.
    */
  private def assertSplitParity(name: String, bytes: Array[Byte],
      expected: Seq[Array[Byte]]): Unit = {
    val dir = tmpDir(name)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "00000.jsonl"), bytes)
    def lines(df: org.apache.spark.sql.DataFrame) =
      df.select(col("value").cast("binary")).collect()
        .map(_.getAs[Array[Byte]](0).toSeq).toSeq
    val v2 = lines(spark.read.format("graft-cdc").load(dir))
    val text = lines(spark.read.text(dir))
    def show(ls: Seq[Seq[Byte]]) = ls.map(l => s"${l.length}B").mkString(",")
    assert(v2 == text, s"v2=${show(v2)} read.text=${show(text)}")
    assert(v2 == expected.map(_.toSeq), s"v2=${show(v2)}")
  }

  private val B = LineSplitter.BufferBytes
  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")
  private def pad(c: Char, n: Int): Array[Byte] = Array.fill(n)(c.toByte)

  test("split across read buffers: a line longer than the buffer") {
    val long = pad('x', 2 * B + 17)
    assertSplitParity("dsv2_split_long",
      utf8(s"$good\n") ++ long ++ utf8(s"\n$del\n"),
      Seq(utf8(good), long, utf8(del)))
  }

  test("split across read buffers: \\r ends one buffer, its \\n starts the " +
      "next; a lone \\r at a buffer end terminates by itself") {
    val head = pad('p', B - 1) // its \r is the buffer's last byte
    assertSplitParity("dsv2_split_crlf",
      head ++ utf8(s"\r\n$del\n"), Seq(head, utf8(del)))
    assertSplitParity("dsv2_split_cr",
      head ++ utf8(s"\r$del\n"), Seq(head, utf8(del)))
  }

  test("split across read buffers: an unterminated last line") {
    val tail = pad('y', B + 5) // spans a refill, then the stream ends
    assertSplitParity("dsv2_split_tail",
      utf8(s"$good\n") ++ tail, Seq(utf8(good), tail))
    assertSplitParity("dsv2_split_tail_short",
      utf8(s"$good\n$del"), Seq(utf8(good), utf8(del)))
  }

  test("split across read buffers: consecutive blank lines") {
    val head = pad('b', B - 2) // the two \n sit on both sides of a refill
    assertSplitParity("dsv2_split_blank",
      head ++ utf8(s"\n\n\n$good\n\r\n\r\r$del\n"),
      Seq(head, Array.empty[Byte], Array.empty[Byte], utf8(good),
        Array.empty[Byte], Array.empty[Byte], Array.empty[Byte], utf8(del)))
  }

  test("split across read buffers: an invalid UTF-8 byte comes through " +
      "unchanged") {
    // 0xFF is never valid UTF-8; 0xE2 0x82 is a truncated 3-byte sequence.
    // The line straddles a refill so the bytes are copied from the carry.
    val invalid = pad('u', B - 3) ++ Array(0xFF.toByte, 'v'.toByte,
      0xE2.toByte, 0x82.toByte, 'w'.toByte)
    assertSplitParity("dsv2_split_utf8",
      invalid ++ utf8(s"\n$bad\n"), Seq(invalid, utf8(bad)))
  }

  test("LineSplitter with tiny buffers and short reads splits like a " +
      "whole-input reference") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // the reference: Hadoop LineReader's rules over the whole input
    def reference(in: Array[Byte]): Seq[Seq[Byte]] = {
      val out = Seq.newBuilder[Seq[Byte]]
      var i = 0
      var start = 0
      while (i < in.length) {
        if (in(i) == '\n' || in(i) == '\r') {
          out += in.slice(start, i).toSeq
          if (in(i) == '\r' && i + 1 < in.length && in(i + 1) == '\n') i += 1
          start = i + 1
        }
        i += 1
      }
      if (start < in.length) out += in.slice(start, in.length).toSeq
      out.result()
    }
    // a stream that hands out at most `chunk` bytes per read
    def trickle(in: Array[Byte], chunk: Int) =
      new java.io.ByteArrayInputStream(in) {
        override def read(b: Array[Byte], off: Int, len: Int): Int =
          super.read(b, off, math.min(len, chunk))
      }
    val byteGen = Gen.frequency(4 -> Gen.choose('a', 'c').map(_.toByte),
      2 -> Gen.const('\n'.toByte), 2 -> Gen.const('\r'.toByte),
      1 -> Gen.const(0xFF.toByte))
    (0 until 200).foreach { i =>
      val in = Gen.listOf(byteGen)
        .apply(Gen.Parameters.default.withSize(40), Seed(9100L + i)).get.toArray
      for (bufferBytes <- Seq(1, 2, 3, 7); chunk <- Seq(1, 5)) {
        val split = new LineSplitter(trickle(in, chunk), bufferBytes)
        val got = Iterator.continually(split.next()).takeWhile(_ != null)
          .map(_.toSeq).toSeq
        assert(got == reference(in),
          s"seed ${9100L + i}, buffer $bufferBytes, chunk $chunk")
      }
    }
  }

  test("malformed line: raw value preserved, typed fields all null") {
    val dir = tmpDir("dsv2_bad")
    writeFile(dir, "00000.jsonl", bad)
    val rows = spark.read.format("graft-cdc").load(dir).collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[String]("value") == bad)
    assert(r.isNullAt(r.fieldIndex("op")) && r.isNullAt(r.fieldIndex("after")))
  }

  test("column pruning reaches the scan: select(op) drops value and payloads") {
    val dir = tmpDir("dsv2_prune")
    writeFile(dir, "00000.jsonl", good)
    val df = spark.read.format("graft-cdc").load(dir).select("op")
    val scanSchemas = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.readSchema()
    }
    assert(scanSchemas.nonEmpty)
    val read: StructType = scanSchemas.head
    assert(read.fieldNames.toSeq == Seq("op"), read.treeString)
    assert(df.collect().map(_.getString(0)).toSeq == Seq("c"))
  }

  test("nested pruning: select(after.id) narrows the payload struct") {
    val dir = tmpDir("dsv2_nested")
    writeFile(dir, "00000.jsonl", good, del)
    val df = spark.read.format("graft-cdc").load(dir)
      .select(col("after.id").as("id"))
    val read = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.readSchema()
    }.head
    assert(!read.fieldNames.contains("value"), read.treeString)
    val after = read("after").dataType.asInstanceOf[StructType]
    assert(after.fieldNames.toSeq == Seq("id"), read.treeString)
    assert(df.collect().map(r => Option(r.get(0))).toSet ==
      Set(Some(7), None)) // delete carries no after image
  }

  test("empty and absent directories read as zero rows") {
    val dir = tmpDir("dsv2_empty")
    assert(spark.read.format("graft-cdc").load(dir).count() == 0)
    assert(spark.read.format("graft-cdc").load(dir + "/nope").count() == 0)
  }

  test("payloadDdl option switches the per-table image schema") {
    val dir = tmpDir("dsv2_ddl")
    writeFile(dir, "00000.jsonl",
      """{"before":null,"after":{"sku":"A-1","qty":3},"source":{"version":"v","connector":"postgresql","name":"dbserver1","ts_ms":5,"snapshot":"false","db":"inventory","schema":"public","table":"parts","txId":1,"lsn":9},"op":"c","ts_ms":1}""")
    val df = spark.read.format("graft-cdc")
      .option("payloadDdl", "sku STRING, qty INT").load(dir)
    val r = df.select("after.sku", "after.qty", "source.table").collect()(0)
    assert((r.getString(0), r.getInt(1), r.getString(2)) == ("A-1", 3, "parts"))
  }

  test("micro-batch tail: new files arrive as new batches; checkpoint resume " +
      "replays nothing") {
    val dir = tmpDir("dsv2_stream")
    val cp = tmpDir("dsv2_stream_cp")
    val out = tmpDir("dsv2_stream_out")
    writeFile(dir, "00000.jsonl", good)

    // parquet sink: supports checkpoint recovery (memory sink does not),
    // and its _spark_metadata commit log makes the output exactly-once —
    // which is precisely what the replay assertion below checks
    def start() = spark.readStream.format("graft-cdc").load(dir)
      .select(col("op"), col("after.id").as("id"))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp).start()
    def sunk() = spark.read.parquet(out).collect().map(_.getString(0)).sorted.toSeq

    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(sunk() == Seq("c"))
      writeFile(dir, "00001.jsonl", del, good)
      q1.processAllAvailable()
      assert(sunk() == Seq("c", "c", "d"))
    } finally q1.stop()

    // restart from the checkpoint: the new file flows, committed offsets
    // must NOT replay (exactly-once across restart)
    writeFile(dir, "00002.jsonl", del)
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(sunk() == Seq("c", "c", "d", "d"))
    } finally q2.stop()
  }

  test("filter pushdown: null-intolerant top-level predicates reach the " +
      "parser, results identical to residual-only") {
    val dir = tmpDir("dsv2_filter")
    writeFile(dir, "00000.jsonl", good, del, bad)
    val df = spark.read.format("graft-cdc").load(dir)

    // pushed EqualTo(op, c): skips del at parse; bad parses to the
    // PERMISSIVE null row and the residual filter drops it — 1 survivor
    val eq = df.filter(col("op") === "c")
    assert(eq.count() == 1)
    assert(eq.select("after.id").collect()(0).getInt(0) == 7)
    // the scan advertises the push (description carries PushedFilters)
    val desc = eq.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.description()
    }.head
    assert(desc.contains("PushedFilters=[") && desc.contains("op"), desc)

    // IsNotNull is NOT pushable (null-row semantics differ); residual
    // evaluation still gives the right answer — malformed line dropped
    assert(df.filter(col("op").isNotNull).count() == 2)
    // filters on the unparsed raw `value` column are never pushed
    val onValue = df.filter(col("value").startsWith("not-json"))
    assert(onValue.count() == 1)
    val vDesc = onValue.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.description()
    }.head
    assert(vDesc.contains("PushedFilters=[]"), vDesc)
    // nested references (source.table) stay residual-only, still correct
    assert(df.filter(col("source.table") === "customers").count() == 2)
  }

  test("scan reports on-disk size, so the planner sees a small table as " +
      "small (broadcastable), not unknown-huge") {
    val dir = tmpDir("dsv2_stats")
    writeFile(dir, "00000.jsonl", good, del)
    val bytes = java.nio.file.Files.size(
      java.nio.file.Paths.get(dir, "00000.jsonl"))
    val sized = spark.read.format("graft-cdc").load(dir)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(sized <= BigInt(bytes) * 16 && sized >= BigInt(1),
      s"stats sizeInBytes=$sized for $bytes on-disk bytes")
  }

  test("admission control: maxFilesPerTrigger paces the tail, backlog " +
      "still fully drains") {
    val dir = tmpDir("dsv2_pace")
    (0 until 5).foreach(i => writeFile(dir, f"$i%05d.jsonl", good))

    // unit-level: the capped latestOffset advances one file per call
    val schema = CdcDataSource.schemaFor(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", dir)))
    val stream = new CdcMicroBatchStream(dir, schema, "UTC",
      maxFilesPerTrigger = Some(2))
    val step1 = stream.latestOffset(CdcOffset(0, ""),
      stream.getDefaultReadLimit).asInstanceOf[CdcOffset]
    assert(step1.fileCount == 2)
    val step2 = stream.latestOffset(step1,
      stream.getDefaultReadLimit).asInstanceOf[CdcOffset]
    assert(step2.fileCount == 4)
    // progress reporting still sees the true head of the log
    assert(stream.reportLatestOffset().asInstanceOf[CdcOffset].fileCount == 5)

    // e2e: the paced stream drains the whole backlog across batches
    val q = spark.readStream.format("graft-cdc")
      .option("maxFilesPerTrigger", 2).load(dir)
      .select("after.id")
      .writeStream.format("memory").queryName("dsv2_paced")
      .option("checkpointLocation", tmpDir("dsv2_pace_cp")).start()
    try {
      q.processAllAvailable()
      assert(spark.table("dsv2_paced").count() == 5)
      // at least ceil(5/2)=3 batches ran — pacing actually split the work
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        q.recentProgress.map(_.numInputRows).mkString(","))
    } finally q.stop()
  }

  test("SQL DDL surface: CREATE TABLE USING graft-cdc is queryable") {
    val dir = tmpDir("dsv2_sql")
    writeFile(dir, "00000.jsonl", good, del)
    spark.sql(
      s"CREATE TABLE cdc_sql_log USING `graft-cdc` OPTIONS (path '$dir')")
    try {
      val rows = spark.sql(
        "SELECT op, after.id FROM cdc_sql_log WHERE op = 'c'").collect()
      assert(rows.length == 1 && rows(0).getString(0) == "c" &&
        rows(0).getInt(1) == 7)
    } finally spark.sql("DROP TABLE cdc_sql_log")
  }

  test("property: arbitrary line mixes (valid/corrupt/unicode/extremes) " +
      "read identically through V2 scan and read.text + parse") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed

    val envLine: Gen[String] = for {
      id <- Gen.chooseNum(Int.MinValue, Int.MaxValue)
      name <- Gen.oneOf("Ann", "寿司", "O'Hara \\\" quote", "", "𝔘nicode")
      email <- Gen.oneOf("a@b.co", "", "no-at", "a@b@c")
      op <- Gen.oneOf("c", "u", "d", "r", "zz")
      ts <- Gen.chooseNum(0L, Long.MaxValue)
      lsn <- Gen.option(Gen.chooseNum(Long.MinValue, Long.MaxValue))
    } yield {
      val esc = (s: String) => s.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"before":null,"after":{"id":$id,"name":"${esc(name)}","email":"${esc(email)}","created_at":1},""" +
        s""""source":{"version":"v","connector":"postgresql","name":"d","ts_ms":5,"snapshot":"false",""" +
        s""""db":"i","schema":"p","table":"customers","txId":1,"lsn":${lsn.map(_.toString).getOrElse("null")}},""" +
        s""""op":"$op","ts_ms":$ts}"""
    }
    val junk: Gen[String] = Gen.oneOf(
      Gen.const("not-json{{{"), Gen.const("[1,2]"), Gen.const("42"),
      Gen.const("\"s\""), Gen.const("{\"after\":\"not-a-struct\"}"),
      Gen.const("{\"op\":17}"), Gen.const(""), // blank separator lines too
      Gen.alphaNumStr.map(s => s"{$s"))
    val lineGen = Gen.frequency(3 -> envLine, 1 -> junk)

    (0 until 6).foreach { i =>
      val sample = Gen.listOfN(25, lineGen)
        .apply(Gen.Parameters.default, Seed(7000L + i)).get
      val dir = tmpDir(s"dsv2_prop_$i")
      writeFile(dir, "00000.jsonl", sample: _*)
      val v2 = spark.read.format("graft-cdc").load(dir)
        .selectExpr("value", "before", "after", "source", "op", "ts_ms")
        .collect().map(_.toString).sorted.toSeq
      val baseline = CdcEnvelope.parse(spark.read.text(dir))
        .selectExpr("value", "envelope.before", "envelope.after",
          "envelope.source", "envelope.op", "envelope.ts_ms")
        .collect().map(_.toString).sorted.toSeq
      assert(v2 == baseline, s"divergence at seed ${7000L + i}")
    }
  }

  test("offsets witness RELATIVE file names: a checkpoint resumed with a " +
      "differently-spelled directory URI validates against the unchanged log") {
    val dir = tmpDir("dsv2_relpath")
    writeFile(dir, "00000.jsonl", good)
    writeFile(dir, "00001.jsonl", del)
    val schema = CdcDataSource.schemaFor(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", dir)))
    // commit an offset with the plain-path spelling...
    val committed = new CdcMicroBatchStream(dir, schema, "UTC")
      .latestOffset().asInstanceOf[CdcOffset]
    assert(!committed.lastFile.contains('/'),
      s"offset must record a dir-relative name, got '${committed.lastFile}'")
    // ...and resume with an equivalent but different URI spelling
    // (file: scheme + authority), as after a mount/alias change
    val respelled = new CdcMicroBatchStream(s"file://$dir", schema, "UTC")
    val replayed = respelled.deserializeOffset(committed.json())
    val parts = respelled.planInputPartitions(
      respelled.initialOffset(), replayed)
    assert(parts.length == 2,
      "an unchanged log must validate under a respelled directory URI")
  }

  test("delete+insert inside the committed range is caught by the offset's " +
      "membership hash (count and boundary alone would pass)") {
    val dir = tmpDir("dsv2_substitute")
    writeFile(dir, "00001.jsonl", good)
    writeFile(dir, "00002.jsonl", good)
    writeFile(dir, "00004.jsonl", del)
    val schema = CdcDataSource.schemaFor(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", dir)))
    val stream = new CdcMicroBatchStream(dir, schema, "UTC")
    val committed = stream.latestOffset() // prefix of 3, boundary 00004
    // within one trigger the cached listing makes plan == resolved offset
    // by construction; the hazard is CHECKPOINT RECOVERY, where a fresh
    // stream instance replays the WAL offset against a changed directory.
    // Retention deletes 00002 while late 00003 lands: SAME count, SAME
    // boundary — only the membership witness can see the substitution.
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "00002.jsonl"))
    writeFile(dir, "00003.jsonl", good)
    val recovered = new CdcMicroBatchStream(dir, schema, "UTC")
    val replayed = recovered.deserializeOffset(committed.json())
    val e = intercept[IllegalArgumentException] {
      recovered.planInputPartitions(recovered.initialOffset(), replayed)
    }
    assert(e.getMessage.contains("membership changed"), e.getMessage)
  }

  test("array-root lines null out like the CdcEnvelope.parse baseline " +
      "(which gates on root-is-object)") {
    val dir = tmpDir("dsv2_arrayroot")
    writeFile(dir, "00000.jsonl", s"[$good]", good)
    val v2 = spark.read.format("graft-cdc").load(dir)
      .selectExpr("value", "op", "after.id").collect()
      .map(r => s"${Option(r.getString(1))}|${Option(r.get(2))}").sorted.toSeq
    val baseline = CdcEnvelope.parse(spark.read.text(dir))
      .selectExpr("value", "envelope.op", "envelope.after.id").collect()
      .map(r => s"${Option(r.getString(1))}|${Option(r.get(2))}").sorted.toSeq
    assert(v2 == baseline, s"v2=$v2 baseline=$baseline")
  }

  test("admission control survives maxFilesPerTrigger near Int.MaxValue") {
    val dir = tmpDir("dsv2_maxcap")
    writeFile(dir, "00000.jsonl", good)
    writeFile(dir, "00001.jsonl", del)
    val schema = CdcDataSource.schemaFor(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", dir)))
    val stream = new CdcMicroBatchStream(dir, schema, "UTC",
      maxFilesPerTrigger = Some(Int.MaxValue))
    val first = stream.latestOffset(CdcOffset(0, ""),
      stream.getDefaultReadLimit).asInstanceOf[CdcOffset]
    assert(first.fileCount == 2, first)
    // fileCount + maxFiles would overflow Int here without the Long clamp
    val next = stream.latestOffset(first,
      stream.getDefaultReadLimit).asInstanceOf[CdcOffset]
    assert(next.fileCount == 2, next)
  }

  test("compressed log files (.gz) read with full read.text parity") {
    val dir = tmpDir("dsv2_gzip")
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(new java.io.File(dir, "00000.jsonl.gz")))
    out.write(s"$good\n$del\n$bad".getBytes("UTF-8"))
    out.close()
    val v2 = spark.read.format("graft-cdc").load(dir)
      .select("value", "op").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).sorted.toSeq
    val baseline = CdcEnvelope.parse(spark.read.text(dir))
      .select(col("value"), col("envelope.op")).collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).sorted.toSeq
    assert(v2 == baseline && v2.length == 3, v2.mkString("\n"))
  }

  test("out-of-order file name fails loudly instead of silently skipping") {
    val dir = tmpDir("dsv2_ooo")
    writeFile(dir, "00001.jsonl", good)
    val schema = CdcDataSource.schemaFor(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", dir)))
    val stream = new CdcMicroBatchStream(dir, schema, "UTC")
    val committed = stream.latestOffset() // prefix = ["00001.jsonl"]
    // a file sorting BEFORE the committed boundary materializes late
    writeFile(dir, "00000.jsonl", del)
    val e = intercept[IllegalArgumentException] {
      stream.planInputPartitions(committed, stream.latestOffset())
    }
    assert(e.getMessage.contains("committed file prefix changed"))
  }
}
