package graft.cdc

import java.nio.charset.StandardCharsets.{UTF_16LE, UTF_8}

import graft.SparkSpec
import graft.functions.EnrichKernel
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** [[EnrichKernel]] — the pipeline's one-pass record path — against the
  * reference formula it replaced: `Enrich.apply`'s chain (`EnvelopeStats`
  * → `from_json` → `enrichment` struct → `to_json` → `concat`) plus the
  * routing `when` that `CdcPipeline.routedValues` applied to it. Every
  * corpus must give byte-identical `(source_table, value)` pairs and equal
  * `cdc_enrich` counts.
  */
class EnrichKernelParitySpec extends SparkSpec {

  private val cfg = EnrichConfig(processingTimeIso = Some("2026-01-01T00:00:00"))

  /** The reference: today's record path, as `routedValues` wrote it. */
  private def reference(in: DataFrame, cfg: EnrichConfig): DataFrame = {
    val isPassthrough = coalesce(col("value_out") === col("value"), lit(true))
    val table = col("envelope.source.table")
    val safeTable = when(table.startsWith("_"),
      concat(lit("t"), table, lit("-"), substring(md5(table), 1, 8)))
      .otherwise(table)
    Enrich(in, cfg).select(
      when(isPassthrough, lit("_unrouted"))
        .otherwise(coalesce(safeTable, lit("_unknown"))).as("source_table"),
      col("value_out").as("value"),
      isPassthrough.as("passthrough"))
  }

  private def bytesOf(r: Row, i: Int): Seq[Byte] =
    Option(r.getAs[Array[Byte]](i)).map(_.toSeq).orNull

  private def show(b: Seq[Byte]): String =
    if (b == null) "null" else new String(b.toArray, UTF_8)

  /** Asserts parity on `in` (a `value` string column) and returns the
    * kernel's `n_fallback`.
    */
  private def assertParity(in: DataFrame, c: EnrichConfig = cfg): Long = {
    val ref = reference(in, c)
      .select(col("source_table"), col("value").cast("binary"), col("passthrough"))
      .collect()
    val kernel = CdcPipeline.routedValues(in, c)
      .select(col("source_table"), col("value").cast("binary"))
    val got = kernel.collect()
    val inputs = in.select(col("value").cast("binary")).collect().map(bytesOf(_, 0))
    assert(got.length == ref.length && inputs.length == ref.length)
    inputs.indices.foreach { i =>
      val (want, have) = (ref(i), got(i))
      assert(have.getString(0) == want.getString(0) &&
        bytesOf(have, 1) == bytesOf(want, 1),
        s"\ninput:     ${show(inputs(i))}\nreference: ${want.getString(0)} " +
          s"${show(bytesOf(want, 1))}\nkernel:    ${have.getString(0)} " +
          s"${show(bytesOf(have, 1))}")
    }
    val m = kernel.queryExecution.observedMetrics("cdc_enrich")
    val refPass = ref.count(_.getBoolean(2)).toLong
    assert(m.getAs[Long]("n_total") == ref.length)
    assert(m.getAs[Long]("n_passthrough") == refPass)
    assert(m.getAs[Long]("n_enriched") == ref.length - refPass)
    m.getAs[Long]("n_fallback")
  }

  /** Lines as raw bytes: a binary column cast to string keeps every byte,
    * invalid UTF-8 included. Written to parquet so the plan runs through
    * whole-stage codegen; `local = true` keeps a LocalRelation, whose
    * projection the optimizer evaluates interpreted.
    */
  private def frame(lines: Seq[Array[Byte]], local: Boolean = false): DataFrame = {
    import spark.implicits._
    val df = lines.map(Tuple1(_)).toDF("b").select(col("b").cast("string").as("value"))
    if (local) df
    else {
      val dir = tmpDir("kernel-parity")
      df.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
  }

  private def utf8(lines: Seq[String]): Seq[Array[Byte]] = lines.map(_.getBytes(UTF_8))

  private val cEvent =
    """{"before":null,"after":{"id":1,"name":"Alice Smith","email":"alice@example.com","created_at":1763741883901236},"source":{"version":"1.9.7.Final","connector":"postgresql","name":"dbserver1","ts_ms":1763741883902,"snapshot":"false","db":"inventory","schema":"public","table":"customers","txId":746,"lsn":27565472},"op":"c","ts_ms":1763741884346}"""
  private val uEvent =
    """{"before":{"id":1,"name":"Alice Smith","email":"alice@example.com","created_at":1763741883901236},"after":{"id":1,"name":"Alice Jones","email":"alice@newmail.org","created_at":1763741883901236},"source":{"version":"1.9.7.Final","connector":"postgresql","name":"dbserver1","ts_ms":1763741900000,"snapshot":"false","db":"inventory","schema":"public","table":"customers","txId":747,"lsn":27565600},"op":"u","ts_ms":1763741900500}"""
  private val dEvent =
    """{"before":{"id":1,"name":"Alice Jones","email":"alice@newmail.org","created_at":1763741883901236},"after":null,"source":{"version":"1.9.7.Final","connector":"postgresql","name":"dbserver1","ts_ms":1763741910000,"snapshot":"false","db":"inventory","schema":"public","table":"customers","txId":748,"lsn":27565700},"op":"d","ts_ms":1763741910200}"""
  private val rEvent =
    """{"before":null,"after":{"id":1,"name":"Alice Smith","email":"alice@example.com","created_at":1763741883901236},"source":{"version":"1.9.7.Final","connector":"postgresql","name":"dbserver1","ts_ms":1763741880000,"snapshot":"true","db":"inventory","schema":"public","table":"customers","txId":745,"lsn":27565000},"op":"r","ts_ms":1763741880100}"""

  /** Every envelope of EnrichSpec and FIXTURES.md §2, and PropertySpec's
    * envelope corpora regenerated from their own generators and seeds.
    */
  private lazy val specCorpus: Seq[String] = {
    val src = """"source":{"version":"v","connector":"postgresql","name":"d","ts_ms":5,"snapshot":"false","db":"i","schema":"p","table":"t","txId":1,"lsn":2}"""
    val enrichSpec = Seq(cEvent, uEvent, dEvent, rEvent,
      cEvent.replace("\"ts_ms\":1763741884346", "\"ts_ms\":1763741884000"),
      """{"after":{"id":2},"ts_ms":5}""",
      """{"op":"x","after":{"id":2},"ts_ms":5}""",
      """{"op":"c","ts_ms":0}""", """{"op":"c"}""", """{"op":"c","ts_ms":5}""",
      """{"op":"c","ts_ms":5,"after":{"id":1,"email":""}}""",
      """{"op":"c","ts_ms":5,"after":{"id":1,"email":"a@b@c"}}""",
      """{"op":"c","ts_ms":5,"after":{"id":1,"name":"x"}}""",
      """{"op":"c","ts_ms":5,"after":{}}""",
      """{"op":"c","ts_ms":5,"after":{"id":1,"weird":true,"extra":[1,2]}}""",
      s"""{"before":null,"after":"ab😀",$src,"op":"c","ts_ms":1}""",
      s"""{"before":null,"after":{"x":NaN,"y":-Infinity},$src,"op":"c","ts_ms":1}""",
      """{"op":"c","ts_ms":5,"after":{"id":1,"email":null}}""",
      """{"op":"c","ts_ms":5,"after":{"id":1}}""",
      """{"op":"c","ts_ms":5,"source":{}}""",
      """{"op":"c","ts_ms":5,"source":{"db":null}}""",
      "not-json{{{",
      """{"after":{"id":1,"custom_tag":"x"},"op":"c","ts_ms":5}""",
      """{"op":"c","after":7,"ts_ms":5}""", """{"op":"c","after":0}""",
      """{"op":"c","after":true}""", """{"op":"c","after":"my email addr"}""",
      """{"op":"c","after":["email","x"]}""",
      """{"op":"c","after":{"id":1},"source":null}""",
      """{"op":"c","after":{"id":1},"source":"abc"}""",
      """{"op":"c","after":{"id":1},"source":[1]}""",
      """{"op":"c","after":"abcde","ts_ms":5}""", """{"op":"c","after":[1,2,3],"ts_ms":5}""",
      """{"op":"c","after":""}""", """{"op":"c","after":[]}""") ++
      Seq("123", "true", "[1,2]", """{"x":1}""").map(v =>
        s"""{"op":"c","ts_ms":5,"after":{"id":1,"email":$v}}""")
    def samples[T](gen: Gen[T], n: Int): Seq[T] =
      (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))
    val garbage = Gen.oneOf(
      Gen.alphaNumStr.suchThat(s => !s.trim.startsWith("{")),
      Gen.const("[1,2,3]"), Gen.const("42"), Gen.const("\"str\""),
      Gen.const("{broken"), Gen.const(""))
    val envGen = for {
      op <- Gen.oneOf("c", "u", "d", "r", "x"); id <- Gen.choose(1, 99)
      email <- Gen.oneOf("a@b.co", "", "no-at", "a@b@c")
      tsMs <- Gen.choose(1L, 2000000000000L)
    } yield s"""{"before":null,"after":{"id":$id,"email":"$email"},"op":"$op","ts_ms":$tsMs}"""
    val replay = (1 to 30).map(i =>
      s"""{"after":{"id":$i},"source":{"lsn":$i,"db":"d","schema":"s","table":"t"},"op":"c","ts_ms":$i}""")
    enrichSpec ++ samples(Gen.listOfN(20, garbage), 8).flatten ++
      samples(Gen.listOfN(10, envGen), 4).flatten ++ replay
  }

  /** Hand-picked rows for each fallback trigger and formatting edge. */
  private val cornerCorpus: Seq[String] = Seq(
    // a failed int inside `after` leaves from_json's parser inside the
    // object: its later keys are read as root keys
    """{"after":{"id":"x","op":"zz"},"op":"c","ts_ms":5,"source":{"table":"t"}}""",
    """{"op":5,"ts_ms":5}""", """{"op":{"a":"c"},"ts_ms":5}""", """{"op":["c"]}""",
    """{"op":"c","ts_ms":1.5}""", """{"op":"c","ts_ms":"123"}""", """{"op":"c","ts_ms":1e3}""",
    """{"op":"c","ts_ms":NaN}""", """{"op":"c","ts_ms":99999999999999999999}""",
    """{"op":"c","ts_ms":true}""",
    """{"op":"c","source":{"table":7}}""", """{"op":"c","source":{"db":[1],"table":"t"}}""",
    """{"op":"c","source":{"snapshot":true,"table":"t"}}""",
    """{"op":"c","source":{"lsn":"abc","table":"t"}}""",
    """{"op":"c","source":{"txId":1.5,"table":"t"}}""",
    """{"op":"c","source":{"ts_ms":99999999999999999999,"table":"t"}}""",
    """{"op":"c","source":{"name":{"a":1},"table":"t"}}""",
    """{"op":"c","after":{"id":2147483648}}""", """{"op":"c","after":{"id":-2147483648}}""",
    """{"op":"c","after":{"created_at":1.0}}""", """{"op":"c","before":{"id":"1"}}""",
    """{"op":"c","before":5}""", """{"op":"c","before":"x"}""", """{"op":"c","before":[1]}""",
    """{"op":"c","op":"d","ts_ms":5}""", """{"op":"c","ts_ms":5,"ts_ms":6}""",
    """{"op":"c","source":{"table":"a"},"source":{"table":"b"}}""",
    """{"op":"c","source":{"table":"a","table":"b"}}""",
    """{"op":"c","after":{"id":1,"id":2}}""", """{"op":"c","before":{"id":1,"id":"x"}}""",
    """{"op":"c","after":{"id":1},"after":{"email":"a@b"}}""",
    """{"op":"c","after":{"name":5,"email":"x@y"}}""",
    """{"op":"c","ts_ms":5,"source":{"db":"a\"b\\c\n\t\u0001\u001f\u007f/","table":"q\"t"}}""",
    """{"op":"é","ts_ms":5,"source":{"table":"ü日本😀","db":"\ud800x","schema":"\udc00"}}""",
    """{"op":"\ud800","after":{"email":"\ud800@x\udc00y"}}""",
    """{"op":"c","source":{"table":"_x"}}""", """{"op":"c","source":{"table":"_unrouted"}}""",
    """{"op":"c","source":{"table":"_"}}""", """{"op":"c","source":{"table":"_ü\ud800"}}""",
    """{"op":"c","source":{"table":null,"db":"d"}}""",
    """{"op":"c","ts_ms":-1}""", """{"op":"c","ts_ms":-1500}""", """{"op":"c","ts_ms":-2000}""",
    """{"op":"c","ts_ms":-62135596800000}""", """{"op":"c","ts_ms":-62135596799999}""",
    """{"op":"c","ts_ms":-62135596800001}""", """{"op":"c","ts_ms":253402300799999}""",
    """{"op":"c","ts_ms":253402300800000}""", """{"op":"c","ts_ms":253402300799000}""",
    """{"op":"c","ts_ms":9223372036854775807}""", """{"op":"c","ts_ms":-9223372036854775808}""",
    """{"op":"c","ts_ms":951782400000}""", """{"op":"c","ts_ms":-2208988800001}""",
    """{"op":"c","ts_ms":null,"source":{"snapshot":null,"table":"t"}}""",
    """{"op":"c","after":{"email":"@x"}}""", """{"op":"c","after":{"email":"x@"}}""",
    """{"op":"c","after":{"email":"ü@日本"}}""", """{"op":"c","after":{"email":"a@b"}} x""",
    """ {"op":"c"} """, """{"op":"c"}}""", """{"op":'c'}""", """{"extra":{"op":5},"op":"u"}""")

  /** Rows whose bytes the byte-level parser and from_json's reader decode
    * differently: invalid UTF-8 inside a string, UTF-16, a leading BOM.
    */
  private val byteCorpus: Seq[Array[Byte]] = {
    def spliced(prefix: String, raw: Array[Byte], suffix: String) =
      prefix.getBytes(UTF_8) ++ raw ++ suffix.getBytes(UTF_8)
    val ff = Array(0xFF.toByte)
    Seq(
      spliced("""{"op":"c","source":{"table":"t""", ff, """x"},"ts_ms":5}"""),
      spliced("""{"op":"c","after":{"name":"a""", ff, """"},"ts_ms":5}"""),
      spliced("""{"op":"c","after":{"email":"a@""", ff, """"},"ts_ms":5}"""),
      spliced("""{"op":"""", Array(0xC0, 0xAF).map(_.toByte), """","ts_ms":5}"""),
      spliced("""{"op":"c","source":{"table":"""", Array(0xED, 0xA0, 0x80).map(_.toByte), """"}}"""),
      spliced("""{"op":"c","extra":"""", Array(0xF4, 0x90, 0x80, 0x80).map(_.toByte), """"}"""),
      spliced("""{"op":"c","extra":"""", Array(0xE2, 0x82).map(_.toByte), """"}"""),
      """{"op":"c","ts_ms":5,"source":{"table":"t"}}""".getBytes(UTF_16LE),
      Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++
        """{"op":"c","ts_ms":5,"source":{"table":"t"}}""".getBytes(UTF_8))
  }

  /** Seeded envelopes mixing every fallback trigger with clean fields,
    * escapes, non-ASCII and lone-surrogate text, the email variants,
    * `_`-prefixed tables, every `source` shape and the `ts_ms` edges.
    */
  private def generated(seed: Long, n: Int): Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.length))
    def sometimes(p: Double) = rnd.nextDouble() < p
    val texts = Seq("\"inventory\"", "null", "\"\"", "\"a\\\"b\\\\c\\n\\t\\u0001\\u001f/\"",
      "\"ü日本😀\"", "\"\\ud800x\"", "\"\\udc00\"", "\"\\u007f\\u0080\"", "\"\\\\u0041\"")
    val badText = Seq("7", "[1]", "{\"a\":null}", "true", "1.5", "NaN")
    val tables = texts ++ Seq("\"_x\"", "\"_unrouted\"", "\"_\"", "\"customers\"",
      "\"_ü\"", "\"orders\"", "\"lineitem\"")
    val longs = Seq("1", "null", "-5", "0", "9223372036854775807", "-9223372036854775808")
    val badLong = Seq("1.5", "\"7\"", "99999999999999999999", "true", "{}", "[]", "-0.0")
    val ints = Seq("1", "null", "-2147483648", "2147483647", "0")
    val badInt = Seq("2147483648", "1.0", "\"1\"", "[1]", "false")
    val emails = Seq("\"a@b.co\"", "\"\"", "\"no-at\"", "\"a@b@c\"", "\"@x\"", "\"x@\"",
      "\"ü@日本\"", "\"\\ud800@x\"", "\"a\\\"@b\"", "null", "5")
    val tsEdges = Seq(0L, -1L, -1500L, -2000L, 1000L, 1763741884346L, 1763741884000L,
      Enrich.MinTsMs, Enrich.MaxTsMs, Enrich.MinTsMs - 1,
      Enrich.MaxTsMs + 1, Enrich.MinTsMs + 999, Long.MaxValue, Long.MinValue)
      .map(_.toString) :+ "null"
    val badTs = Seq("1.5", "\"123\"", "1e3", "NaN", "99999999999999999999", "true")
    def obj(fields: Seq[(String, String)]): String = {
      val withDup =
        if (fields.nonEmpty && sometimes(0.03)) fields :+ pick(fields) else fields
      rnd.shuffle(withDup).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    }
    def field(p: Double)(kv: => (String, String)): Option[(String, String)] =
      if (sometimes(p)) Some(kv) else None
    def payload(): String = obj(Seq(
      field(0.8)("id" -> (if (sometimes(0.05)) pick(badInt) else pick(ints))),
      field(0.6)("name" -> (if (sometimes(0.1)) pick(badText) else pick(texts))),
      field(0.6)("email" -> pick(emails)),
      field(0.5)("created_at" -> (if (sometimes(0.05)) pick(badLong) else pick(longs))),
      field(0.3)("extra" -> pick(texts ++ Seq("[1,2]", "{\"op\":5}")))).flatten)
    def source(): Option[String] =
      if (sometimes(0.1)) None
      else if (sometimes(0.08)) Some(pick(Seq("null", "{}", "\"s\"", "[1]", "5")))
      else {
        def str(k: String, values: Seq[String]) = field(0.7)(
          k -> (if (sometimes(0.04)) pick(badText) else pick(values)))
        def lng(k: String) = field(0.5)(
          k -> (if (sometimes(0.04)) pick(badLong) else pick(longs)))
        Some(obj(Seq(str("version", texts), str("connector", texts),
          field(0.4)("name" -> pick(texts ++ badText)), lng("ts_ms"),
          str("snapshot", Seq("\"true\"", "\"false\"", "null", "\"TRUE\"")),
          str("db", texts), str("schema", texts), str("table", tables),
          lng("txId"), lng("lsn")).flatten))
      }
    def image(): String =
      if (sometimes(0.4)) "null"
      else if (sometimes(0.1)) pick(Seq("\"abcde\"", "\"my email\"", "[1,2]",
        "[\"email\"]", "7", "true", "\"\"", "[]", "5.5"))
      else payload()
    (0 until n).map { _ =>
      val root = Seq(
        field(0.9)("op" -> (if (sometimes(0.04)) pick(badText)
          else pick(Seq("\"c\"", "\"u\"", "\"d\"", "\"r\"", "\"x\"", "null", "\"\\ud800\"", "\"é\"")))),
        field(0.9)("ts_ms" -> (if (sometimes(0.04)) pick(badTs)
          else if (sometimes(0.5)) pick(tsEdges)
          else (rnd.nextLong() % 4000000000000L).toString)),
        field(0.8)("before" -> image()),
        field(0.9)("after" -> image()),
        source().map("source" -> _),
        field(0.1)("extra" -> "{\"op\":5,\"ts_ms\":\"x\"}")).flatten
      val line = obj(root)
      val shaped =
        if (sometimes(0.02)) line.dropRight(1 + rnd.nextInt(line.length / 2))
        else if (sometimes(0.01)) line + " x"
        else if (sometimes(0.01)) "[" + line + "]"
        else line
      val bytes = shaped.getBytes(UTF_8)
      if (sometimes(0.02) && bytes.length > 4) {
        // one raw byte the byte-level and reader decoders disagree on
        val at = 1 + rnd.nextInt(bytes.length - 2)
        bytes.take(at) ++ Array(pick(Seq(0xFF, 0xC0, 0xED, 0x80)).toByte) ++ bytes.drop(at)
      } else if (sometimes(0.005)) shaped.getBytes(UTF_16LE)
      else if (sometimes(0.005)) Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ bytes
      else bytes
    }
  }

  test("parity: EnrichSpec, PropertySpec and FIXTURES envelopes, codegen " +
      "and interpreted") {
    val lines = utf8(specCorpus)
    assertParity(frame(lines))
    assertParity(frame(lines, local = true))
  }

  test("parity: each fallback trigger, escapes and byte-level corners " +
      "fall back or match") {
    val lines = utf8(cornerCorpus) ++ byteCorpus
    val fallbacks = assertParity(frame(lines))
    assert(assertParity(frame(lines, local = true)) == fallbacks)
    assert(fallbacks > 0)
  }

  test("parity: seeded generator covering every trigger; fallback taken") {
    val fallbacks = assertParity(frame(generated(7L, 4000)))
    assert(fallbacks > 0, "the generator corpus must exercise the fallback")
  }

  test("parity: 20,000 TPC-H-shaped envelopes, all on the fast path") {
    // rows with TPC-H's customer/orders/lineitem columns and types
    // (FIXTURES.md §3), deterministic in the row number
    def pick(xs: String*)(i: Column) =
      element_at(array(xs.map(lit): _*), (i % xs.length + 1).cast("int"))
    def day(i: Column) = timestamp_seconds(lit(694224000L) + i * 86400 % (2400L * 86400))
    val n = col("id")
    val cust = spark.range(1, 1501).select(n.cast("int").as("id"),
      format_string("Customer#%09d", n).as("name"), (n % 25).cast("int").as("c_nationkey"),
      (n * 7919 % 1099999 / 100.0 - 999.99).as("c_acctbal"),
      pick("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")(n).as("c_mktsegment"))
    val ords = spark.range(1, 6501).select((n * 4).as("o_orderkey"),
      (n % 1500 + 1).as("o_custkey"), pick("F", "O", "P")(n).as("o_orderstatus"),
      (n * 104729 % 50000000 / 100.0).as("o_totalprice"), day(n).as("o_orderdate"),
      pick("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(n).as("o_orderpriority"))
    val items = spark.range(0, 12000).select((n / 4 * 4 + 4).as("l_orderkey"),
      (n * 31 % 20000 + 1).as("l_partkey"), (n * 17 % 1000 + 1).as("l_suppkey"),
      (n % 4 + 1).cast("int").as("l_linenumber"), (n % 50 + 1).cast("double").as("l_quantity"),
      (n * 7 % 100000 / 10.0).as("l_extendedprice"), (n % 11 / 100.0).as("l_discount"),
      (n % 9 / 100.0).as("l_tax"), pick("A", "N", "R")(n).as("l_returnflag"),
      pick("F", "O")(n).as("l_linestatus"), day(n + 30).as("l_shipdate"))
    val ts = Some(1763741884346L)
    val envs = CdcSource.changes(cust, "r", "tpch", "public", "customers",
        col("id").cast("long"), fixedTsMs = ts)
      .unionByName(CdcSource.changes(ords, "c", "tpch", "public", "orders",
        col("o_orderkey"), fixedTsMs = ts))
      .unionByName(CdcSource.changes(items, "d", "tpch", "public", "lineitem",
        col("l_orderkey") * 10 + col("l_linenumber"), fixedTsMs = Some(1763741884000L)))
    val dir = tmpDir("kernel-parity-tpch")
    envs.write.mode("overwrite").parquet(dir)
    val in = spark.read.parquet(dir)
    assert(in.count() == 20000)
    assert(assertParity(in) == 0)
  }

  test("parity under the default clock: processing_time_iso formats the " +
      "batch timestamp like date_format in UTC") {
    val in = frame(utf8(specCorpus ++ cornerCorpus))
    val both = Enrich(in, EnrichConfig()).select(col("value_out"),
      EnrichKernel(col("value"), current_timestamp(), lit(null).cast("string"),
        lit(null).cast("string"), lit(null).cast("string"),
        "cdc-enrichment", "1.0.0", ignoreNullFields = true)
        .getField("value").as("k"))
    val rows = both.collect()
    assert(rows.exists(r => r.getString(0) != null &&
      r.getString(0).contains("\"processing_time_iso\":\"")))
    rows.foreach(r => assert(r.getString(1) == r.getString(0)))
  }

  test("parity under a non-UTC session and with ignoreNullFields off") {
    val lines = frame(utf8(specCorpus ++ cornerCorpus))
    val conf = spark.conf
    conf.set("spark.sql.session.timeZone", "America/New_York")
    try assertParity(lines) finally conf.set("spark.sql.session.timeZone", "UTC")
    conf.set("spark.sql.jsonGenerator.ignoreNullFields", "false")
    try assertParity(lines)
    finally conf.unset("spark.sql.jsonGenerator.ignoreNullFields")
  }

  test("Kafka context columns reach processing_metadata like Enrich's") {
    import spark.implicits._
    val in = Seq((cEvent, "dbserver1.public.customers", 3, "k:3:9"),
        ("nope", "t\"", 0, "x"))
      .toDF("value", "topic", "partition", "message_id")
    assertParity(in)
    assertParity(in, EnrichConfig(functionName = "f\u0001\"", functionVersion = "vé",
      processingTimeIso = Some("ü")))
  }
}
