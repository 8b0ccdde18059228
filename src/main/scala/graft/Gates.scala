package graft

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The gate runner of the mains (Bench, Verify, Explain): picks gates from
  * the registry, builds one into the caller's sink, frees its blocks, and
  * records where its wall time went. Each of these is written once here.
  */
private[graft] object Gates {
  type Gate = (SparkSession, String) => DataFrame

  /** Executes a plan fully (`count()` would let Spark skip projections). */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** The registry entries for `names`, or all of them (by name) when none
    * are given. A typo'd name fails loudly, not as a silently partial run.
    */
  def select(names: Seq[String]): Seq[(String, Gate)] = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown gate names: ${unknown.sorted.mkString(", ")}")
    if (names.isEmpty) all.toSeq.sortBy(_._1) else names.distinct.map(n => n -> all(n))
  }

  /** One Spark job of a gate run; times in seconds from the run's start. */
  final case class Job(id: Int, start: Double, end: Double, tasks: Int, site: String) {
    def seconds: Double = end - start
  }

  /** What one gate run cost. `busy` is the UNION of its jobs' intervals
    * (publishes may overlap), so `busy + idle == wall` by construction;
    * `idle` is time outside every job — planning, codegen, commits,
    * streaming-engine machinery. `storMb` is block-manager storage still in
    * use after the free: memo-pinned seeds are the only expected floor.
    */
  final case class Receipt(wall: Double, error: Option[String], jobs: Seq[Job],
      busy: Double, codegenCompiles: Long, cpuPerWall: Double, gcMs: Long, storMb: Long) {
    def idle: Double = wall - busy
    def tasks: Int = jobs.map(_.tasks).sum

    // Double.toString after rounding, NOT an f-interpolation: the latter is
    // default-locale and a comma-decimal locale would corrupt the JSON
    def json: String = {
      def r3(x: Double) = math.round(x * 1000) / 1000.0
      s"""{"wall_s":${r3(wall)},"busy_s":${r3(busy)},"idle_s":${r3(r3(wall) - r3(busy))},""" +
        s""""jobs":${jobs.size},"tasks":$tasks,"codegen_compiles":$codegenCompiles,""" +
        s""""cpu_per_wall":$cpuPerWall,"gc_ms":$gcMs,"stor_mb":$storMb}"""
    }

    override def toString: String =
      f"$wall%8.2f s busy=$busy%.2f idle=$idle%.2f jobs=${jobs.size}%d tasks=$tasks%d " +
        f"compiles=$codegenCompiles%d cpu/wall=$cpuPerWall%5.2f gc=$gcMs%d ms stor=$storMb%d MB"
  }

  /** Build `gate` into `sink`, then [[free]]. Timing starts before the
    * build: gates with an eager localCheckpoint do real work there. A
    * failure prints the gate name, the full stack trace and cause chain (a
    * bare message prints `null` for an NPE), and lands in the receipt.
    */
  def run(spark: SparkSession, sfDir: String, gate: (String, Gate))(
      sink: DataFrame => Unit): Receipt = {
    val sc = spark.sparkContext
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val rec = recorder(sc)
    rec.arm()
    val (gc0, cpu0, cc0) = (gcMs, os.getProcessCpuTime, compiles)
    val (t0Ms, t0) = (System.currentTimeMillis(), System.nanoTime())
    val error =
      try { sink(gate._2(spark, sfDir)); None }
      catch { case e: Throwable =>
        System.err.println(s"[gates] ${gate._1} failed:")
        e.printStackTrace()
        Some(e.toString)
      }
    val wall = (System.nanoTime() - t0) / 1e9
    val (dGc, dCpu, dCc) = (gcMs - gc0, (os.getProcessCpuTime - cpu0) / 1e9, compiles - cc0)
    val jobs = rec.disarm(t0Ms, wall)
    free(spark)
    val storMb = sc.getExecutorMemoryStatus.values.map { case (max, left) => max - left }.sum >> 20
    val cpuPerWall = if (wall > 0) math.round(dCpu / wall * 100) / 100.0 else 0.0
    Receipt(wall, error, jobs, union(jobs), dCc, cpuPerWall, dGc, storMb)
  }

  /** The one cleanup rule between gates. `clearCache` drops
    * `Materialize.stage` persists — blocks AND CacheManager entries, so a
    * later gate with a structurally equal subtree can't read a stale
    * cache; the RDD sweep then drops localCheckpoint blocks, which
    * clearCache never touches (memo-pinned seeds excepted). Blocking, so
    * the release can't race the next gate's materialization.
    */
  def free(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !graft.queries.QueryMemo.isPinned(id) }
      .values.foreach(_.unpersist(true))
  }

  /** Total length of the union of `jobs`' intervals, sorted by start. */
  private def union(jobs: Seq[Job]): Double =
    jobs.foldLeft((0.0, 0.0)) { case ((sum, reach), j) =>
      (sum + math.max(0.0, j.end - math.max(j.start, reach)), math.max(reach, j.end))
    }._1

  /** The one listener, registered once per SparkContext. It keeps events
    * only while a run is armed, so a long-lived session buffers nothing
    * between runs; both ends drain the bus so no run sees another's jobs.
    */
  private final class Recorder(val sc: SparkContext) extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, (Long, String)]
    private val ends = mutable.HashMap.empty[Int, Long]
    private val tasks = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
    private val stageJob = mutable.HashMap.empty[Int, Int]
    @volatile private var armed = false

    def arm(): Unit = {
      org.apache.spark.GraftBus.drain(sc)
      synchronized { Seq(jobs, ends, tasks, stageJob).foreach(_.clear()) }
      armed = true
    }

    /** The run's jobs by start, clamped to `[0, wall]` seconds from
      * `t0Ms`; a job still open ends at `wall`.
      */
    def disarm(t0Ms: Long, wall: Double): Seq[Job] = {
      org.apache.spark.GraftBus.drain(sc)
      armed = false
      def at(ms: Long) = math.min(wall, math.max(0.0, (ms - t0Ms) / 1e3))
      synchronized {
        jobs.toSeq.map { case (id, (start, site)) =>
          Job(id, at(start), ends.get(id).fold(wall)(at), tasks(id), site)
        }.sortBy(j => (j.start, j.id))
      }
    }

    override def onJobStart(js: SparkListenerJobStart): Unit = if (armed) synchronized {
      val site = Option(js.properties).flatMap(p => Option(p.getProperty("callSite.short")))
      jobs(js.jobId) = (js.time, site.getOrElse("?"))
      js.stageIds.foreach(stageJob.getOrElseUpdate(_, js.jobId))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      if (armed) synchronized(ends(je.jobId) = je.time)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      if (armed) synchronized(stageJob.get(te.stageId).foreach(j => tasks(j) += 1))
  }

  private var current: Option[Recorder] = None

  private def recorder(sc: SparkContext): Recorder = synchronized {
    current.filter(_.sc eq sc).getOrElse {
      val r = new Recorder(sc)
      sc.addSparkListener(r)
      current = Some(r)
      r
    }
  }
}
