package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Golden tests for the enrichment transform — FIXTURES.md §2 canonical
  * envelopes (c/u/d/r) plus every edge-case row, asserting the reference
  * semantics of `cdc_enrichment_function.py` (SURVEY.md §2.2 P1–P18).
  */
class EnrichSpec extends SparkSpec {

  private val cfg = EnrichConfig(processingTimeIso = Some("2026-01-01T00:00:00"))

  private def enrich(lines: String*): DataFrame = {
    import spark.implicits._
    Enrich(lines.toDF("value"), cfg)
  }

  private def one(lines: String*) = enrich(lines: _*).collect()(0)

  private val cEvent =
    """{"before":null,"after":{"id":1,"name":"Alice Smith","email":"alice@example.com","created_at":1763741883901236},"source":{"version":"1.9.7.Final","connector":"postgresql","name":"dbserver1","ts_ms":1763741883902,"snapshot":"false","db":"inventory","schema":"public","table":"customers","txId":746,"lsn":27565472},"op":"c","ts_ms":1763741884346}"""
  private val dEvent =
    """{"before":{"id":1,"name":"Alice Jones","email":"alice@newmail.org","created_at":1763741883901236},"after":null,"source":{"version":"1.9.7.Final","connector":"postgresql","name":"dbserver1","ts_ms":1763741910000,"snapshot":"false","db":"inventory","schema":"public","table":"customers","txId":748,"lsn":27565700},"op":"d","ts_ms":1763741910200}"""
  private val rEvent =
    """{"before":null,"after":{"id":1,"name":"Alice Smith","email":"alice@example.com","created_at":1763741883901236},"source":{"version":"1.9.7.Final","connector":"postgresql","name":"dbserver1","ts_ms":1763741880000,"snapshot":"true","db":"inventory","schema":"public","table":"customers","txId":745,"lsn":27565000},"op":"r","ts_ms":1763741880100}"""

  test("c event: operation struct, mutation flag, insights") {
    val row = one(cEvent)
    val e = row.getStruct(row.fieldIndex("enrichment"))
    val op = e.getStruct(e.fieldIndex("operation"))
    assert(op.getString(0) == "c" && op.getString(1) == "CREATE" && op.getBoolean(2))
    val dq = e.getStruct(e.fieldIndex("data_quality"))
    assert(!dq.getBoolean(0) && dq.getBoolean(1)) // has_before=false, has_after=true
    assert(dq.getInt(2) == 4 && dq.getBoolean(3)) // field_count=4, is_complete
    val ci = e.getStruct(e.fieldIndex("customer_insights"))
    assert(ci.getString(0) == "example.com" && ci.getBoolean(1) && ci.getInt(2) == 17)
  }

  test("d event: after null → no insights, has_before, field_count 0") {
    val row = one(dEvent)
    val e = row.getStruct(row.fieldIndex("enrichment"))
    val dq = e.getStruct(e.fieldIndex("data_quality"))
    assert(dq.getBoolean(0) && !dq.getBoolean(1) && dq.getInt(2) == 0 && !dq.getBoolean(3))
    assert(e.isNullAt(e.fieldIndex("customer_insights")))
    val op = e.getStruct(e.fieldIndex("operation"))
    assert(op.getString(1) == "DELETE" && op.getBoolean(2))
  }

  test("r event: snapshot flag true, not a mutation") {
    val row = one(rEvent)
    val e = row.getStruct(row.fieldIndex("enrichment"))
    val sm = e.getStruct(e.fieldIndex("source_metadata"))
    assert(sm.getBoolean(sm.fieldIndex("is_snapshot")))
    val op = e.getStruct(e.fieldIndex("operation"))
    assert(op.getString(1) == "READ" && !op.getBoolean(2))
  }

  test("event_time_iso matches Python isoformat semantics") {
    // 1763741884346 ms → fraction nonzero → 6-digit micros
    val row = one(cEvent)
    val e = row.getStruct(row.fieldIndex("enrichment"))
    val ts = e.getStruct(e.fieldIndex("timestamps"))
    assert(ts.getLong(0) == 1763741884346L)
    assert(ts.getString(1) == "2025-11-21T16:18:04.346000")
    // whole-second ts → fraction omitted (python isoformat quirk)
    val row2 = one(cEvent.replace("\"ts_ms\":1763741884346", "\"ts_ms\":1763741884000"))
    val e2 = row2.getStruct(row2.fieldIndex("enrichment"))
    val ts2 = e2.getStruct(e2.fieldIndex("timestamps"))
    assert(ts2.getString(1) == "2025-11-21T16:18:04")
  }

  test("missing op → code unknown / label UNKNOWN / not mutation") {
    val row = one("""{"after":{"id":2},"ts_ms":5}""")
    val e = row.getStruct(row.fieldIndex("enrichment"))
    val op = e.getStruct(e.fieldIndex("operation"))
    assert(op.getString(0) == "unknown" && op.getString(1) == "UNKNOWN" && !op.getBoolean(2))
  }

  test("unknown op x → label UNKNOWN, keeps code") {
    val row = one("""{"op":"x","after":{"id":2},"ts_ms":5}""")
    val e = row.getStruct(row.fieldIndex("enrichment"))
    val op = e.getStruct(e.fieldIndex("operation"))
    assert(op.getString(0) == "x" && op.getString(1) == "UNKNOWN" && !op.getBoolean(2))
  }

  test("zero/missing ts_ms → no timestamps struct") {
    for (payload <- Seq("""{"op":"c","ts_ms":0}""", """{"op":"c"}""")) {
      val row = one(payload)
      val e = row.getStruct(row.fieldIndex("enrichment"))
      assert(e.isNullAt(e.fieldIndex("timestamps")), payload)
    }
  }

  test("missing source → no source_metadata struct") {
    val row = one("""{"op":"c","ts_ms":5}""")
    val e = row.getStruct(row.fieldIndex("enrichment"))
    assert(e.isNullAt(e.fieldIndex("source_metadata")))
  }

  test("empty email: insights present, has_email false, length 0") {
    val row = one("""{"op":"c","ts_ms":5,"after":{"id":1,"email":""}}""")
    val e = row.getStruct(row.fieldIndex("enrichment"))
    val ci = e.getStruct(e.fieldIndex("customer_insights"))
    assert(ci.isNullAt(0) && !ci.getBoolean(1) && ci.getInt(2) == 0)
  }

  test("multi-@ email: domain is split-index-1, not last") {
    val row = one("""{"op":"c","ts_ms":5,"after":{"id":1,"email":"a@b@c"}}""")
    val e = row.getStruct(row.fieldIndex("enrichment"))
    val ci = e.getStruct(e.fieldIndex("customer_insights"))
    assert(ci.getString(0) == "b")
  }

  test("after without email key → no customer_insights struct") {
    val row = one("""{"op":"c","ts_ms":5,"after":{"id":1,"name":"x"}}""")
    val e = row.getStruct(row.fieldIndex("enrichment"))
    assert(e.isNullAt(e.fieldIndex("customer_insights")))
  }

  test("empty after object → field_count 0, not complete") {
    val row = one("""{"op":"c","ts_ms":5,"after":{}}""")
    val e = row.getStruct(row.fieldIndex("enrichment"))
    val dq = e.getStruct(e.fieldIndex("data_quality"))
    assert(dq.getBoolean(1) && dq.getInt(2) == 0 && !dq.getBoolean(3))
  }

  test("extra unexpected keys in after counted by field_count") {
    val row = one("""{"op":"c","ts_ms":5,"after":{"id":1,"weird":true,"extra":[1,2]}}""")
    val e = row.getStruct(row.fieldIndex("enrichment"))
    val dq = e.getStruct(e.fieldIndex("data_quality"))
    assert(dq.getInt(2) == 3)
  }

  test("string-valued after counts CODE POINTS like Python len, not " +
      "UTF-16 code units") {
    // "ab😀": len() in Python is 3; String.length would say 4
    val in =
      """{"before":null,"after":"ab😀","source":{"version":"v","connector":"postgresql","name":"d","ts_ms":5,"snapshot":"false","db":"i","schema":"p","table":"t","txId":1,"lsn":2},"op":"c","ts_ms":1}"""
    val row = one(in)
    val e = row.getStruct(row.fieldIndex("enrichment"))
    val dq = e.getStruct(e.fieldIndex("data_quality"))
    assert(dq.getInt(2) == 3, s"field_count=${dq.getInt(2)}")
  }

  test("NaN/Infinity constants parse like Python json.loads — enriched, " +
      "not passthrough") {
    val in =
      """{"before":null,"after":{"x":NaN,"y":-Infinity},"source":{"version":"v","connector":"postgresql","name":"d","ts_ms":5,"snapshot":"false","db":"i","schema":"p","table":"t","txId":1,"lsn":2},"op":"c","ts_ms":1}"""
    val row = one(in)
    val e = row.getStruct(row.fieldIndex("enrichment"))
    val dq = e.getStruct(e.fieldIndex("data_quality"))
    assert(dq.getInt(2) == 2, s"field_count=${dq.getInt(2)}")
    assert(row.getString(row.fieldIndex("value_out")) != in,
      "a NaN-bearing envelope must enrich, not fall back to passthrough")
  }

  test("email key with null value → raw passthrough (reference TypeError path)") {
    // py: '"@" in None' raises → outer except returns original bytes
    val in = """{"op":"c","ts_ms":5,"after":{"id":1,"email":null}}"""
    val out = enrich(in).select("value_out").collect()(0).getString(0)
    assert(out == in)
    // email ABSENT (no key) still enriches normally
    val in2 = """{"op":"c","ts_ms":5,"after":{"id":1}}"""
    val out2 = enrich(in2).select("value_out").collect()(0).getString(0)
    assert(out2.contains("\"enrichment\""))
  }

  test("email key with non-string value → raw passthrough (TypeError parity)") {
    // py: '"@" in 123' / '"@" in {...}' / '"@" in true' all raise TypeError
    for (v <- Seq("123", "true", "[1,2]", """{"x":1}""")) {
      val in = s"""{"op":"c","ts_ms":5,"after":{"id":1,"email":$v}}"""
      val out = enrich(in).select("value_out").collect()(0).getString(0)
      assert(out == in, s"email=$v should pass through")
    }
  }

  test("empty source object → no source_metadata (dict truthiness)") {
    val row = one("""{"op":"c","ts_ms":5,"source":{}}""")
    val e = row.getStruct(row.fieldIndex("enrichment"))
    assert(e.isNullAt(e.fieldIndex("source_metadata")))
    // source with a key (even null-valued) is truthy → struct present
    val row2 = one("""{"op":"c","ts_ms":5,"source":{"db":null}}""")
    val e2 = row2.getStruct(row2.fieldIndex("enrichment"))
    assert(!e2.isNullAt(e2.fieldIndex("source_metadata")))
  }

  test("non-JSON input passes through unchanged (P18 error fallback)") {
    val garbage = "not-json{{{"
    val out = enrich(garbage, cEvent).select("value_out").collect().map(_.getString(0))
    assert(out.contains(garbage))
    assert(out.exists(s => s != garbage && s.contains("\"enrichment\"")))
  }

  test("enriched output is {original, enrichment} JSON") {
    val out = one(cEvent).getString(one(cEvent).fieldIndex("value_out"))
    assert(out.startsWith("{\"original\":"))
    assert(out.contains("\"operation\":{\"code\":\"c\",\"label\":\"CREATE\",\"is_mutation\":true}"))
    assert(out.contains("\"processing_time_iso\":\"2026-01-01T00:00:00\""))
  }

  test("original preserves the input bytes: explicit nulls and unknown keys") {
    // "email": null must SURVIVE into original (set-to-NULL vs absent is
    // real data); unknown keys too — the input is spliced verbatim
    val in = """{"after":{"id":1,"custom_tag":"x"},"op":"c","ts_ms":5}"""
    val out = one(in).getString(one(in).fieldIndex("value_out"))
    assert(out.startsWith("{\"original\":" + in + ",\"enrichment\":"))
  }

  test("python-raise paths pass the raw bytes through (P18 parity)") {
    // each reaches a line that raises in the reference → except → raw
    val raises = Seq(
      """{"op":"c","after":7,"ts_ms":5}""",            // len(7) TypeError
      """{"op":"c","after":0}""",                      // len(0) in is_complete
      """{"op":"c","after":true}""",                   // len(True) TypeError
      """{"op":"c","after":"my email addr"}""",        // "email" in str → .get AttributeError
      """{"op":"c","after":["email","x"]}""",          // "email" in list → .get AttributeError
      """{"op":"c","after":{"id":1},"source":null}""", // None.get at log line
      """{"op":"c","after":{"id":1},"source":"abc"}""",// str.get at log line
      """{"op":"c","after":{"id":1},"source":[1]}""")  // list.get at log line
    raises.foreach { in =>
      assert(one(in).getString(one(in).fieldIndex("value_out")) == in, in)
    }
  }

  test("len()-able non-dict after enriches with python len semantics") {
    // after = string without "email": len(str) = chars → field_count;
    // no customer_insights (the email branch is never taken)
    val s = one("""{"op":"c","after":"abcde","ts_ms":5}""")
    val dq = s.getStruct(s.fieldIndex("enrichment"))
      .getStruct(s.getStruct(s.fieldIndex("enrichment")).fieldIndex("data_quality"))
    assert(dq.getInt(2) == 5 && dq.getBoolean(3), "field_count=len('abcde')")
    assert(s.getString(s.fieldIndex("value_out")).contains("\"enrichment\""))
    // after = array without "email" element: len(list) = element count
    val a = one("""{"op":"c","after":[1,2,3],"ts_ms":5}""")
    val adq = a.getStruct(a.fieldIndex("enrichment"))
      .getStruct(a.getStruct(a.fieldIndex("enrichment")).fieldIndex("data_quality"))
    assert(adq.getInt(2) == 3 && adq.getBoolean(3), "field_count=len([1,2,3])")
    // empty string/array: falsy → field_count 0, is_complete false, enriched
    for (in <- Seq("""{"op":"c","after":""}""", """{"op":"c","after":[]}""")) {
      val r = one(in)
      val e = r.getStruct(r.fieldIndex("enrichment"))
      val d = e.getStruct(e.fieldIndex("data_quality"))
      assert(d.getInt(2) == 0 && !d.getBoolean(3), in)
      assert(r.getString(r.fieldIndex("value_out")).contains("\"enrichment\""), in)
    }
  }

  test("ts_ms at the datetime range edges enriches; one past either edge " +
      "passes the raw line through") {
    def out(ts: Long) = {
      val in = s"""{"op":"c","ts_ms":$ts,"source":{"table":"t"}}"""
      (in, one(in).getString(one(in).fieldIndex("value_out")))
    }
    val (loIn, lo) = out(-62135596800000L)
    assert(lo != loIn && lo.contains("\"event_time_iso\":\"0001-01-01T00:00:00\""), lo)
    val (hiIn, hi) = out(253402300799999L)
    assert(hi != hiIn && hi.contains("\"event_time_iso\":\"9999-12-31T23:59:59.999000\""), hi)
    for (ts <- Seq(-62135596800001L, 253402300800000L, 9300000000000000L,
        Long.MaxValue, Long.MinValue)) {
      val (in, o) = out(ts)
      assert(o == in, s"ts_ms=$ts must pass through")
    }
  }

  test("event and processing times are UTC under any session time zone") {
    val conf = spark.conf
    conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val row = one(cEvent)
      val ts = row.getStruct(row.fieldIndex("enrichment"))
        .getStruct(row.getStruct(row.fieldIndex("enrichment")).fieldIndex("timestamps"))
      assert(ts.getString(1) == "2025-11-21T16:18:04.346000")
      import spark.implicits._
      val clock = Enrich(Seq(cEvent).toDF("value"))
        .select("enrichment.timestamps.processing_time_iso").head().getString(0)
      val utcNow = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
      val gap = java.time.Duration.between(java.time.LocalDateTime.parse(clock), utcNow)
      assert(gap.abs.toMinutes < 30, s"processing_time_iso $clock vs UTC $utcNow")
    } finally conf.set("spark.sql.session.timeZone", "UTC")
  }
}
