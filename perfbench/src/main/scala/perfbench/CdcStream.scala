package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.CdcPipeline
import graft.sources.CdcSinkFiles

/** Seeded Debezium-envelope generator over TPC-H row shapes.
  *
  * Every line carries a unique sequence number: valid envelopes as
  * `source.lsn`, malformed lines as a `bad<n>` token. The seed picks each
  * line's table (by the cumulative `shares`), its op (uniformly among `ops`)
  * and its row (so its key), and which lines are malformed.
  */
final class EnvelopeGen(pools: IndexedSeq[Array[String]], shares: IndexedSeq[Double],
    ops: Array[Char], seed: Long, malformedRate: Double) {
  import EnvelopeGen._
  private val rnd = new SplittableRandom(seed)
  private val cumulative = shares.scanLeft(0.0)(_ + _).tail.map(_ / shares.sum)

  /** One line for sequence number `lsn`; fills in `table` (or `Malformed`)
    * and `op` for the check.
    */
  def line(lsn: Long, tsMs: Long, tableOut: Array[Byte], opOut: Array[Byte],
      slot: Int): String = {
    if (rnd.nextDouble() < malformedRate) {
      tableOut(slot) = Malformed
      opOut(slot) = 0
      rnd.nextInt(3) match {
        case 0 => s"""{"note":"bad$lsn","op":"c","source":{"table":"orders""""
        case 1 => s"bad$lsn is not json"
        case _ => s"""["bad$lsn",$tsMs]"""
      }
    } else {
      val u = rnd.nextDouble()
      val t = cumulative.indexWhere(u < _) max 0
      val op = ops(rnd.nextInt(ops.length))
      val pool = pools(t)
      val row = pool(rnd.nextInt(pool.length))
      tableOut(slot) = t.toByte
      opOut(slot) = op.toByte
      val (before, after) = op match {
        case 'd' => (row, "null")
        case 'u' => (row, row)
        case _ => ("null", row)
      }
      val snapshot = if (op == 'r') "true" else "false"
      s"""{"before":$before,"after":$after,"source":{"version":"2.5.0.Final",""" +
        s""""connector":"postgresql","name":"dbserver1","ts_ms":$tsMs,""" +
        s""""snapshot":"$snapshot","db":"tpch","schema":"public",""" +
        s""""table":"${Tables(t)}","txId":${lsn / 8},"lsn":$lsn},""" +
        s""""op":"$op","ts_ms":$tsMs}"""
    }
  }
}

object EnvelopeGen {
  val Tables: IndexedSeq[String] = IndexedSeq("customers", "orders", "lineitem")
  val Malformed: Byte = 3
  val Sources: IndexedSeq[String] = IndexedSeq("customer", "orders", "lineitem")

  /** Row images (every customer, and the first rows of orders and
    * lineitem, as JSON objects) and each table's row count.
    */
  def pools(spark: SparkSession, sf: String): (IndexedSeq[Array[String]], IndexedSeq[Double]) =
    Sources.map { t =>
      val df = spark.read.parquet(s"$sf/$t.parquet")
      (df.toJSON.take(15000), df.count().toDouble)
    }.unzip
}

/** Exactly-once check of one pipeline run: every generated line must appear
  * once, valid envelopes under their table's partition with their op, and
  * malformed lines under `_unrouted`.
  */
final class Expected(val base: Long, val n: Int) {
  val table = new Array[Byte](n)
  val op = new Array[Byte](n)
  val seen = new Array[Byte](n)
  var misrouted = 0L
  var unknown = 0L
  def malformed: Int = table.count(_ == EnvelopeGen.Malformed)

  private val Lsn = "\"lsn\":"
  private val Op = "\"op\":\""

  /** Record one output line found under partition `dir`; returns its slot. */
  def record(dir: String, line: String): Int = {
    val i = line.indexOf(Lsn)
    val (seq, routedTo, opChar) =
      if (i >= 0) {
        var j = i + Lsn.length
        while (j < line.length && line.charAt(j).isDigit) j += 1
        val o = line.indexOf(Op)
        (line.substring(i + Lsn.length, j).toLong, "t",
          if (o >= 0) line.charAt(o + Op.length) else '?')
      } else {
        val b = line.indexOf("bad")
        var j = b + 3
        while (b >= 0 && j < line.length && line.charAt(j).isDigit) j += 1
        (if (b < 0 || j == b + 3) -1L else line.substring(b + 3, j).toLong, "m", '?')
      }
    val slot = seq - base
    if (slot < 0 || slot >= n) { unknown += 1; return -1 }
    val s = slot.toInt
    seen(s) = (seen(s) + 1).min(100).toByte
    val t = table(s)
    val ok =
      if (t == EnvelopeGen.Malformed) routedTo == "m" && dir == "_unrouted"
      else routedTo == "t" && dir == EnvelopeGen.Tables(t) && opChar == op(s).toChar
    if (!ok) misrouted += 1
    s
  }

  /** Lines not delivered exactly once, plus misrouted and unknown ones. */
  def failures: Long = seen.count(_ != 1) + misrouted + unknown
}

/** The `cdc_stream` workload: a backlog drain and an open-loop live run
  * through `CdcPipeline.startV2` with per-table fan-out.
  */
final class CdcStream(spark: SparkSession, rec: Recorder, sf: String,
    work: Path, seed: Long) extends Workload {
  val Backlog = 150000
  val Drains = 3
  val BacklogFiles = 16
  val WarmBacklog = 20000
  val RatePerSec = 2000
  val TickMs = 100
  val MalformedRate = 0.001
  private val perTick = RatePerSec * TickMs / 1000

  private val (pools, rows) = EnvelopeGen.pools(spark, sf)
  /** A backlog is what a connector (re)start with `snapshot.mode=initial`
    * replays first: every table read as `r` events, so a table's share of
    * the envelopes is its share of the rows (1 : 10 : 40 in TPC-H).
    */
  private val SnapshotMix = (rows, Array('r'))
  /** The live stream is TPC-H's refresh functions: RF1 inserts new orders
    * with their lineitems, RF2 deletes as many old ones. So `c` and `d` in
    * equal shares over orders and lineitem, in the ratio of their rows.
    */
  private val RefreshMix = (rows.updated(0, 0.0), Array('c', 'd'))
  private var nextLsn = 1L
  private var runs = 0
  private var backlogs = Seq.empty[(Path, Path, Path, Expected)]
  private var filesCommitted = 0L

  def setUp(parent: Long): Unit = {
    drain("warm-up drain", stageBacklog(WarmBacklog, "warm"), parent)
    Main.log("warm-up drain done")
    live("warm-up live", 2, parent)
  }

  override def prepare(): Unit =
    backlogs = (1 to Drains).map(i => stageBacklog(Backlog, s"backlog$i"))

  /** `Drains` backlog drains (their median is `pass_s`), then the live run. */
  def measure(parent: Long, seconds: Double): Phase = {
    filesCommitted = 0
    val drains = backlogs.zipWithIndex.map { case (b, i) => drain(s"drain ${i + 1}", b, parent) }
    val drainS = Main.median(drains)
    val (lat, late, offered) = live("live", seconds, parent)
    Phase(
      Map("pass_s" -> drainS, "lat_p50_ms" -> Main.pct(lat, 0.50),
        "lat_p99_ms" -> Main.pct(lat, 0.99)),
      Map("gen.offered_eps" -> offered, "gen.late_p99_ms" -> Main.pct(late, 0.99),
        "sink.files_committed" -> filesCommitted.toDouble),
      Map("stream_drain_eps" -> Backlog / drainS, "drains_s" -> drains,
        "latency_samples" -> lat.length))
  }

  private def fresh(tag: String): (Path, Path, Path) = {
    runs += 1
    val d = work.resolve(f"cdc_$runs%02d_$tag")
    (Files.createDirectories(d.resolve("in")), d.resolve("out"), d.resolve("ck"))
  }

  /** Write `lines` as one rename-committed file with a monotone name. */
  private def commitFile(dir: Path, name: String, lines: Iterator[String]): Unit = {
    val tmp = dir.resolve("." + name + ".tmp")
    val w = Files.newBufferedWriter(tmp, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  private def expected(n: Int, mix: (IndexedSeq[Double], Array[Char]))
      : (Expected, EnvelopeGen) = {
    val e = new Expected(nextLsn, n)
    nextLsn += n
    (e, new EnvelopeGen(pools, mix._1, mix._2, seed * 1000003L + e.base, MalformedRate))
  }

  /** Stage a backlog of `n` envelopes; returns the directories and check. */
  private def stageBacklog(n: Int, tag: String): (Path, Path, Path, Expected) = {
    val (in, out, ck) = fresh(tag)
    val (e, gen) = expected(n, SnapshotMix)
    val perFile = (n + BacklogFiles - 1) / BacklogFiles
    (0 until BacklogFiles).foreach { f =>
      val lo = f * perFile
      val hi = math.min(n, lo + perFile)
      commitFile(in, f"b$f%06d.jsonl", (lo until hi).iterator.map { i =>
        gen.line(e.base + i, 1700000000000L + e.base + i, e.table, e.op, i)
      })
    }
    (in, out, ck, e)
  }

  private def verify(name: String, e: Expected, q: StreamingQuery): Unit = {
    val bs = rec.batchesOf(q)
    val total = bs.map(_.enrichTotal).sum
    val pass = bs.map(_.enrichPassthrough).sum
    val enrichedOk = bs.forall(b => b.enrichEnriched + b.enrichPassthrough == b.enrichTotal)
    val delivered = e.failures
    val countsOk = total == e.n && pass == e.malformed && enrichedOk
    attempted += e.n + 1
    failed += delivered + (if (countsOk) 0 else 1)
    checks += ((s"$name: every envelope exactly once under its table, " +
      "malformed lines under _unrouted", delivered == 0,
      s"${e.n} lines, ${e.malformed} malformed, $delivered not delivered exactly once " +
        s"(${e.misrouted} misrouted, ${e.unknown} unknown)"))
    checks += ((s"$name: cdc_enrich n_enriched + n_passthrough = n_total = lines, " +
      "n_passthrough = malformed",
      countsOk, s"n_total=$total n_passthrough=$pass over ${bs.length} batches"))
  }

  private def readFile(path: String, rel: String, e: Expected)(onSlot: Int => Unit): Unit = {
    val dir = rel.takeWhile(_ != '/')
    val r = Files.newBufferedReader(java.nio.file.Paths.get(path), UTF_8)
    try {
      var l = r.readLine()
      while (l != null) { onSlot(e.record(dir, l)); l = r.readLine() }
    } finally r.close()
  }

  /** Drain a staged backlog with `availableNow`; returns wall seconds. */
  private def drain(name: String, staged: (Path, Path, Path, Expected), parent: Long): Double = {
    val (in, out, ck, e) = staged
    val (q, s) = rec.span("call", s"$name startV2(availableNow)", parent) { _ =>
      val q = CdcPipeline.startV2(spark, in.toString, out.toString, ck.toString,
        availableNow = true, fanOutByTable = true)
      q.awaitTermination()
      q
    }
    rec.span("check", s"$name check", parent) { _ =>
      CdcSinkFiles.dataFiles(out.toString).foreach { case (p, rel) =>
        readFile(p.toUri.getPath, rel, e)(_ => ())
        filesCommitted += 1
      }
      verify(name, e, q)
    }
    (s.end - s.start) / 1000
  }

  /** Open loop: one generator thread commits a file every tick carrying
    * `perTick` envelopes, each stamped with its tick's due time, while a
    * continuous `startV2` reads and a poller records when each envelope
    * first shows in committed sink output. Returns the sorted latencies
    * (due time to first seen), the generator's lateness per tick, and the
    * offered rate.
    */
  private def live(name: String, seconds: Double, parent: Long)
      : (Array[Double], Array[Double], Double) = {
    val (in, out, ck) = fresh(name)
    val ticks = math.max(1, (seconds * 1000 / TickMs).toInt)
    val (e, gen) = expected(ticks * perTick, RefreshMix)
    val due = new Array[Double](ticks)
    val firstSeen = Array.fill(e.n)(Double.NaN)
    val late = new Array[Double](ticks)
    val seenFiles = mutable.HashSet[String]()
    var genEnd, t0 = 0.0
    val (q, _) = rec.span("live", s"$name startV2(continuous)", parent) { _ =>
      val q = CdcPipeline.startV2(spark, in.toString, out.toString, ck.toString,
        availableNow = false, fanOutByTable = true)
      val waitUntil = rec.now() + 20000
      while (!q.status.message.startsWith("Waiting") && rec.now() < waitUntil) Thread.sleep(5)
      @volatile var stop = false
      def poll(): Unit = {
        val t = rec.now()
        CdcSinkFiles.dataFiles(out.toString).foreach { case (p, rel) =>
          if (seenFiles.add(rel)) readFile(p.toUri.getPath, rel, e) { s =>
            if (s >= 0 && firstSeen(s).isNaN) firstSeen(s) = t
          }
        }
      }
      val poller = new Thread(() => while (!stop) { poll(); Thread.sleep(10) },
        "perfbench-poller")
      poller.start()
      t0 = rec.now() + 100
      val generator = new Thread(() => {
        (0 until ticks).foreach { k =>
          due(k) = t0 + k.toDouble * TickMs
          val wait = due(k) - rec.now()
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          val lo = k * perTick
          commitFile(in, f"t$k%08d.jsonl", (lo until lo + perTick).iterator.map { i =>
            gen.line(e.base + i, due(k).toLong, e.table, e.op, i)
          })
          late(k) = rec.now() - due(k)
        }
      }, "perfbench-generator")
      generator.start()
      generator.join()
      genEnd = rec.now()
      // stop only once every line is visible AND its batch has reported
      // progress, so stopping cannot cut a batch between its sink commit
      // and its offset commit
      val deadline = genEnd + 30000
      def reported = rec.batches.toArray(Array.empty[Batch])
        .filter(_.queryId == q.id.toString).map(_.enrichTotal).sum
      while (rec.now() < deadline && (firstSeen.exists(_.isNaN) || reported < e.n))
        Thread.sleep(20)
      stop = true
      poller.join()
      q.stop()
      poll() // files committed after the last poll still count toward exactly-once
      q
    }
    rec.span("check", s"$name check", parent) { _ =>
      verify(name, e, q)
      filesCommitted += seenFiles.size
    }
    val lat = (0 until e.n).map(i => firstSeen(i) - due(i / perTick)).filterNot(_.isNaN)
    (lat.toArray.sorted, late.sorted, e.n / ((genEnd - t0) / 1000))
  }
}
