package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the span tree, in epoch milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Double, end: Double)

/** One micro-batch as `StreamingQueryProgress` reports it. */
final case class Batch(queryId: String, batchId: Long, start: Double,
    durations: Map[String, Long], backlogFiles: Long,
    enrichTotal: Long, enrichEnriched: Long, enrichPassthrough: Long) {
  def end: Double = start + durations.getOrElse("triggerExecution", 0L)
}

/** Everything a benchmark run records, kept in memory and written once at
  * the end of the run.
  *
  * It always keeps the harness spans (workload, pass, call) and the
  * per-batch progress events; both are needed for the end-to-end metrics
  * and the correctness checks. [[attach]] adds, for a traced phase, a
  * `SparkListener` for jobs, stages and tasks and a
  * `QueryExecutionListener` for Catalyst phase times and written-file
  * counts. Jobs are linked to the harness call that caused them through the
  * `perfbench.span` local property, which Spark hands down to the
  * stream-execution threads a call starts, and to their micro-batch through
  * the engine's own query-id and batch-id properties.
  */
final class Recorder(spark: SparkSession) {
  import Recorder._

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  @volatile private var currentCall: Long = 0L
  private val queryCall = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  val batches = new ConcurrentLinkedQueue[Batch]()

  private final class Job(val id: Int, val start: Double, val call: Long,
      val queryId: String, val batchId: Long) {
    @volatile var end: Double = Double.NaN
    var bytesWritten = 0L
  }
  private final class Stage(val id: Int, val job: Int) {
    var start = Double.NaN
    var end = Double.NaN
  }
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.HashMap[Int, Stage]()
  private val taskSpans = mutable.ArrayBuffer[(Double, Double)]()
  private var tasks, shuffleBytes, spillBytes, gcMs = 0L
  @volatile private var planningMs, writtenFiles = 0L

  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queryCall.putIfAbsent(e.id.toString, currentCall)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val backlog = p.sources.map { s =>
        math.max(0L, fileCount(s.latestOffset) - fileCount(s.endOffset))
      }.foldLeft(0L)(math.max)
      val enrich = Option(p.observedMetrics.get("cdc_enrich"))
      def field(name: String): Long =
        enrich.map(r => r.getLong(r.fieldIndex(name))).getOrElse(0L)
      batches.add(Batch(p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, durations,
        backlog, field("n_total"), field("n_enriched"),
        field("n_passthrough")))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val props = Option(js.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val job = new Job(js.jobId, js.time.toDouble,
        prop(SpanProperty).map(_.toLong).getOrElse(0L),
        prop("sql.streaming.queryId").orNull,
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L))
      synchronized {
        jobs(js.jobId) = job
        js.stageIds.foreach(s => stages(s) = new Stage(s, js.jobId))
      }
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      synchronized(jobs.get(je.jobId).foreach(_.end = je.time.toDouble))
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val info = sc.stageInfo
      stages.get(info.stageId).foreach { s =>
        s.start = info.submissionTime.map(_.toDouble).getOrElse(Double.NaN)
        s.end = info.completionTime.map(_.toDouble).getOrElse(Double.NaN)
      }
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
      val info = te.taskInfo
      taskSpans += ((info.launchTime.toDouble, info.finishTime.toDouble))
      tasks += 1
      Option(te.taskMetrics).foreach { m =>
        shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        gcMs += m.jvmGCTime
        val written = m.outputMetrics.bytesWritten
        if (written > 0) stages.get(te.stageId).flatMap(s => jobs.get(s.job))
          .foreach(_.bytesWritten += written)
      }
    }
  }

  private val executionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      planningMs += qe.tracker.phases.values.map(_.durationMs).sum
      writtenFiles += qe.executedPlan.collect { case w: DataWritingCommandExec =>
        w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  @volatile private var traced = false
  spark.streams.addListener(progressListener)

  /** Start recording jobs, stages, tasks and query executions. */
  def attach(): Unit = {
    traced = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(executionListener)
  }

  /** Stop recording them, once the events already queued are delivered. */
  def detach(): Unit = if (traced) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    traced = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(executionListener)
  }

  def now(): Double = Recorder.now()

  /** Time `body` as a span of `kind` under `parent`; calls also become the
    * span the Spark jobs they start are attributed to.
    */
  def span[T](kind: String, name: String, parent: Long)(body: Long => T): (T, Span) = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    val (savedCall, savedProp) = (currentCall, sc.getLocalProperty(SpanProperty))
    val linksJobs = kind == "call" || kind == "live"
    if (linksJobs) {
      currentCall = id
      sc.setLocalProperty(SpanProperty, id.toString)
    }
    val t0 = now()
    try {
      val out = body(id)
      val s = Span(id, parent, kind, name, t0, now())
      spans.add(s)
      (out, s)
    } finally if (linksJobs) {
      currentCall = savedCall
      sc.setLocalProperty(SpanProperty, savedProp)
    }
  }

  /** Progress events of one query, once the listener has its last batch. */
  def batchesOf(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[Batch] = {
    val id = q.id.toString
    val last = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    val deadline = now() + 30000
    def mine = batches.asScala.toSeq.filter(_.queryId == id)
    while (!mine.exists(_.batchId == last) && last >= 0 && now() < deadline) Thread.sleep(5)
    mine
  }

  def batchesIn(from: Double, to: Double): Seq[Batch] =
    batches.asScala.toSeq.filter(b => b.start >= from && b.start < to)

  def stop(): Unit = {
    detach()
    spark.streams.removeListener(progressListener)
  }

  /** Codegen compile count and an estimate of the compile seconds (the
    * histogram keeps a decaying sample, so count times mean).
    */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount / 1000.0)
  }

  /** Per-layer metrics over the measured window `root` (between [[attach]]
    * and [[detach]]), given the window's codegen compiles and seconds,
    * plus the span tree with every span's self time.
    */
  def layers(root: Span, codegen: (Long, Double)): (Map[String, Double], Seq[(Span, String, Double)]) = {
    // listener events are delivered asynchronously; wait until they drain
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val (from, to) = (root.start, root.end)
    synchronized {
      val inJobs = jobs.values.filter(j => j.start >= from && j.start < to).toSeq
      val jobIds = inJobs.map(_.id).toSet
      val jobUnion = union(inJobs.map(j => (j.start, endOr(j.end, to))), from, to)
      val taskUnion = union(taskSpans.toSeq, from, to)
      val inBatches = batchesIn(from, to)
      val batchJobs = inJobs.filter(_.batchId >= 0)
      val writeJobs = batchJobs.count(_.bytesWritten > 0)
      val metrics = Map(
        "driver.jobs" -> inJobs.size.toDouble,
        "driver.idle_s" -> (to - from - jobUnion) / 1000,
        "driver.codegen_compiles" -> codegen._1.toDouble,
        "driver.codegen_s" -> math.max(0.0, codegen._2),
        "driver.planning_s" -> planningMs / 1000.0,
        "exec.busy_s" -> taskUnion / 1000,
        "exec.tasks" -> tasks.toDouble,
        "exec.shuffle_mb" -> shuffleBytes / 1048576.0,
        "exec.spill_mb" -> spillBytes / 1048576.0,
        "exec.gc_s" -> gcMs / 1000.0,
        "store.jobs_per_batch" ->
          (if (inBatches.isEmpty) 0.0 else writeJobs.toDouble / inBatches.size),
        "store.bytes_written" -> inJobs.map(_.bytesWritten).sum.toDouble,
        "store.files_written" -> writtenFiles.toDouble)
      // span tree: harness spans, then batches, jobs and stages under them
      val harness = spans.asScala.toSeq.filter(s => s.start < to && s.end > from)
      val bySpanId = harness.map(s => s.id -> s).toMap
      val batchSpans = inBatches.map { b =>
        val call = Option(queryCall.get(b.queryId)).map(_.longValue).getOrElse(root.id)
        (b.queryId, b.batchId) -> Span(ids.incrementAndGet(),
          if (bySpanId.contains(call)) call else root.id, "batch",
          s"batch ${b.batchId}", b.start, b.end)
      }.toMap
      val jobSpans = inJobs.map { j =>
        val parent = batchSpans.get((j.queryId, j.batchId)).map(_.id)
          .getOrElse(if (bySpanId.contains(j.call)) j.call else root.id)
        j.id -> Span(ids.incrementAndGet(), parent, "job", s"job ${j.id}",
          j.start, endOr(j.end, to))
      }.toMap
      val stageSpans = stages.values.toSeq
        .filter(s => jobIds(s.job) && !s.start.isNaN)
        .map(s => Span(ids.incrementAndGet(), jobSpans(s.job).id, "stage",
          s"stage ${s.id}", s.start, endOr(s.end, to)))
      val all = harness ++ batchSpans.values ++ jobSpans.values ++ stageSpans
      (metrics, selfTimes(all, root))
    }
  }
}

object Recorder {
  val SpanProperty = "perfbench.span"

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val FileCount = "\"fileCount\"\\s*:\\s*(\\d+)".r.unanchored
  private def fileCount(offsetJson: String): Long = Option(offsetJson) match {
    case Some(FileCount(n)) => n.toLong
    case _ => 0L
  }

  private def endOr(end: Double, fallback: Double): Double =
    if (end.isNaN) fallback else end

  /** Length of the union of intervals, clipped to [from, to]. */
  def union(intervals: Seq[(Double, Double)], from: Double, to: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var (total, curA, curB) = (0.0, Double.NaN, Double.NaN)
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  /** Layers self time is charged to, in the order the renderer prints. */
  val Layers: Seq[String] =
    Seq("harness", "driver", "input_wait", "streaming", "scheduler", "executor")

  /** Layer a span's self time is charged to. */
  def layerOf(kind: String): String = kind match {
    case "workload" | "measure" | "pass" | "check" => "harness"
    case "call" => "driver"
    case "live" => "input_wait"
    case "batch" => "streaming"
    case "job" => "scheduler"
    case "stage" => "executor"
  }

  /** Self time of every span under `root`. Each span is clipped to its
    * parent's interval; every instant of the root's wall time is charged to
    * the deepest span active then (the latest-started one among equals), so
    * concurrent jobs or batches are not counted twice and the self times add
    * up to the root's wall time exactly.
    */
  def selfTimes(all: Seq[Span], root: Span): Seq[(Span, String, Double)] = {
    val children = all.groupBy(_.parent)
    // (span, clipped start, clipped end, depth)
    val clipped = mutable.ArrayBuffer[(Span, Double, Double, Int)]()
    def walk(s: Span, lo: Double, hi: Double, depth: Int): Unit = {
      val (a, b) = (math.max(s.start, lo), math.min(s.end, hi))
      if (b > a) {
        clipped += ((s, a, b, depth))
        children.getOrElse(s.id, Nil).filter(_.id != s.id).foreach(walk(_, a, b, depth + 1))
      }
    }
    walk(root, root.start, root.end, 0)
    val self = mutable.LinkedHashMap[Long, Double]()
    clipped.foreach { case (s, _, _, _) => self(s.id) = 0.0 }
    val points = clipped.flatMap { case (_, a, b, _) => Seq(a, b) }.distinct.sorted
    points.zip(points.drop(1)).foreach { case (a, b) =>
      val active = clipped.filter { case (_, x, y, _) => x <= a && y >= b }
      if (active.nonEmpty) {
        val (s, _, _, _) = active.maxBy { case (_, x, _, d) => (d, x) }
        self(s.id) += b - a
      }
    }
    clipped.toSeq.map { case (s, _, _, _) => (s, layerOf(s.kind), self(s.id) / 1000) }
  }
}
