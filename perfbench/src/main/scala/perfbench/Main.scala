package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, warm up, measure, check.
  *
  * Usage: `Main --workload cdc_stream|drive_gates --seed N --seconds S
  * --trace 0|1 --sf DIR --work DIR --result FILE --spans FILE`.
  *
  * The measured phase always runs untraced and gives the end-to-end
  * metrics. With `--trace 1` a second phase runs on fresh inputs with the
  * Spark listeners attached, before the measured phase for odd seeds and
  * after it for even ones; it gives the per-layer metrics and the span
  * tree, and the difference between the two phases is the tracing
  * overhead. The run writes one JSON result file; `perfbench/run.py` adds
  * the oracle check and prints the result line.
  */
object Main {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val t0 = System.nanoTime()

  /** Progress on stderr, which run.py keeps in the run's log. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - t0) / 1e9}%.1fs $msg")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val load0 = os.getSystemLoadAverage
    val cpuTicks0 = cpuTicks()

    val spark = graft.EngineTuning(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    graft.EngineTuning.verify(spark)
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Recorder(spark)
    log("session started")

    val out = mutable.LinkedHashMap[String, Any]()
    val (w, untracedPhase, tracedPhase) = rec.span("workload", workload, 0L) { wid =>
      val w: Workload = workload match {
        case "cdc_stream" => new CdcStream(spark, rec, args("sf"), work.resolve("cdc"), seed)
        case "drive_gates" => new DriveGates(spark, rec, args("sf"),
          Files.createDirectories(work.resolve("gates")), seed,
          minPasses = if (traced) 2 else 3)
      }
      w.setUp(wid)
      out("setup_end_ms") = rec.now()
      log("set-up done")
      def phase(label: String) = {
        w.prepare()
        val codegen0 = rec.codegen()
        val cpu0 = os.getProcessCpuTime
        val (p, s) = rec.span("measure", s"$workload $label", wid)(w.measure(_, seconds))
        log(s"$label phase done")
        val cpuPerWall = (os.getProcessCpuTime - cpu0) / 1e6 / (s.end - s.start)
        val codegen1 = rec.codegen()
        (p, s, cpuPerWall, (codegen1._1 - codegen0._1, codegen1._2 - codegen0._2))
      }
      def tracedPhase() = {
        rec.attach()
        try phase("traced") finally rec.detach()
      }
      // The later phase of a run has had more warm-up, so a traced run puts
      // its traced phase first for odd seeds and second for even ones: over
      // seeds of both parities the warm-up cancels out of the overhead.
      if (!traced) (w, phase("measured"), None)
      else if (Math.floorMod(seed, 2L) == 1L) {
        val t = tracedPhase()
        (w, phase("measured"), Some(t))
      } else {
        val u = phase("measured")
        (w, u, Some(tracedPhase()))
      }
    }._1

    val (measured, measuredSpan, cpuPerWall, _) = untracedPhase
    val layers = mutable.LinkedHashMap[String, Double]()
    tracedPhase.foreach { case (p, span, tracedCpu, codegen) =>
      layers ++= p.layers ++ streamLayers(rec.batchesIn(span.start, span.end))
      // every workload reports every layer; those it does not reach read 0
      (Seq("gen.offered_eps", "gen.late_p99_ms", "sink.files_committed") ++
        DriveGates.Gates.map(g => s"gate.${g}_s")).foreach(k => layers.getOrElseUpdate(k, 0.0))
      val (m, self) = rec.layers(span, codegen)
      layers ++= m
      val byLayer = self.groupBy(_._2).map { case (l, xs) => l -> xs.map(_._3).sum }
      Recorder.Layers.foreach(l => layers(s"self.${l}_s") = byLayer.getOrElse(l, 0.0))
      layers("host.cpu_per_wall") = tracedCpu
      layers("lat.p50_ms") = measured.e2e("lat_p50_ms")
      layers("lat.p99_ms") = measured.e2e("lat_p99_ms")
      measured.e2e.foreach { case (k, v) => layers(s"trace.overhead.$k") = p.e2e(k) - v }
      Files.writeString(Paths.get(args("spans")), Json(self.map { case (s, layer, selfS) =>
        Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "start_ms" -> s.start, "end_ms" -> s.end, "layer" -> layer, "self_s" -> selfS)
      }))
    }
    layers("host.peak_rss_mb") = peakRssMb()
    rec.stop()
    spark.stop()
    log("session stopped")

    out("workload") = workload
    out("seed") = seed
    out("metrics") = measured.e2e
    out("layers") = layers.toMap
    out("attempted") = w.attempted
    out("failed") = w.failed
    out("checks") = w.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }
    out("host") = Map("nproc" -> cores, "load_avg_start" -> load0,
      "load_avg_end" -> os.getSystemLoadAverage, "cpu_per_wall" -> cpuPerWall,
      "steal_pct" -> stealPct(cpuTicks0, cpuTicks()),
      "gen_late_p99_ms" -> measured.layers.getOrElse("gen.late_p99_ms", 0.0))
    out("details") = measured.details +
      ("measured_s" -> (measuredSpan.end - measuredSpan.start) / 1000)
    out ++= w.result
    Files.writeString(Paths.get(args("result")), Json(out.toMap))
  }

  /** Source, sink, engine and `Enrich` layers from the progress events. */
  private def streamLayers(bs: Seq[Batch]): Map[String, Double] = {
    def p50(keys: String*) =
      pct(bs.map(b => keys.map(b.durations.getOrElse(_, 0L)).sum.toDouble).toArray.sorted, 0.50)
    Map(
      "sources.latest_offset_ms" -> p50("latestOffset"),
      "sources.backlog_files_max" -> bs.map(_.backlogFiles).maxOption.getOrElse(0L).toDouble,
      "sink.add_batch_ms" -> p50("addBatch"),
      "streaming.batches" -> bs.size.toDouble,
      "streaming.trigger_ms" -> p50("triggerExecution"),
      "streaming.planning_ms" -> p50("queryPlanning"),
      "streaming.commit_ms" -> p50("walCommit", "commitOffsets"),
      "enrich.rows" -> bs.map(_.enrichTotal).sum.toDouble,
      "enrich.passthrough" -> bs.map(_.enrichPassthrough).sum.toDouble)
  }

  /** Percentile of sorted values, interpolated between closest ranks (0
    * when empty): with few samples, as for the drives' micro-batches, it
    * does not jump from one sample to the next.
    */
  def pct(sorted: Array[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val x = p * (sorted.length - 1)
      val i = x.toInt
      if (i + 1 >= sorted.length) sorted(i)
      else sorted(i) + (x - i) * (sorted(i + 1) - sorted(i))
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Host-wide CPU ticks from /proc/stat (empty where there is none). */
  private def cpuTicks(): Array[Long] = {
    val stat = Paths.get("/proc/stat")
    if (!Files.exists(stat)) Array.empty
    else Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1).map(_.toLong)
  }

  /** Share of host CPU time a hypervisor gave to other guests. */
  private def stealPct(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0
    else 100.0 * (b(7) - a(7)) / math.max(1L, b.sum - a.sum)

  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0.0
    else scala.io.Source.fromFile(status.toFile).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }
}

/** Minimal JSON encoder for the result files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
