package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Intra-gate attribution tool (optimization guide §1: measure first;
  * §7.3: when nothing runs, the driver is doing something single-
  * threaded). For each named gate it prints, after a noop-write run:
  *
  *   - one line per Spark JOB: wall, task count, and the call site —
  *     the executor-side half of the gate;
  *   - the GAPS between consecutive jobs (driver-side planning, codegen,
  *     filesystem/commit work, streaming-engine machinery) — for the
  *     tiny-fixture gates these gaps, not the jobs, usually dominate;
  *   - the whole-stage-codegen compile count/time delta over the gate
  *     (Janino compilation is driver CPU that job timing never shows).
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  * SPARK_GRAFT_PROFILE_RUNS (default 2 — run twice, report the second,
  * so first-use codegen/JIT noise doesn't masquerade as plan cost).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "2").toInt
    val spark = EngineTuning.session(defaultCpus = "32")

    final case class Job(id: Int, t0: Long, var t1: Long = 0L,
        var nTasks: Int = 0, site: String)
    val jobs = new scala.collection.mutable.ArrayBuffer[Job]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs += Job(js.jobId, System.nanoTime(),
            nTasks = js.stageInfos.map(_.numTasks).sum,
            site = Option(js.properties)
              .flatMap(p => Option(p.getProperty("callSite.short")))
              .getOrElse("?"))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.find(_.id == je.jobId).foreach(_.t1 = System.nanoTime())
        }
    }
    spark.sparkContext.addSparkListener(listener)

    def codegen(): (Long, Double) = {
      val m = org.apache.spark.metrics.source.CodegenMetrics
      (m.METRIC_COMPILATION_TIME.getCount,
        m.METRIC_COMPILATION_TIME.getSnapshot.getMean *
          m.METRIC_COMPILATION_TIME.getCount)
    }

    val names = if (args.nonEmpty) args.toSeq
      else sys.error("Profile: name at least one gate")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to runs).foreach { r =>
        jobs.synchronized(jobs.clear())
        val (cc0, ct0) = codegen()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        val (cc1, ct1) = codegen()
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs
          .filter { case (id, _) => !graft.queries.QueryMemo.isPinned(id) }
          .values.foreach(_.unpersist(true))
        if (r == runs) {
          // codegen seconds are an ESTIMATE (mean-of-decaying-reservoir ×
          // count delta; round-13 advisory) — the compile COUNT delta is
          // exact, the seconds can drift on long sessions
          println(s"\n===== $name (run $r/$runs) wall=${f"$wall%.2f"} s " +
            s"codegen: +${cc1 - cc0} compiles " +
            s"~${f"${(ct1 - ct0) / 1e3}%.2f"} s (est) =====")
          val snap = jobs.synchronized(jobs.toVector).sortBy(_.t0)
          var prevEnd = t0
          var jobSum = 0.0
          snap.foreach { j =>
            val gap = (j.t0 - prevEnd) / 1e9
            val dur = (math.max(j.t1, j.t0) - j.t0) / 1e9
            jobSum += dur
            if (gap > 0.02)
              println(f"  [gap] $gap%7.3f s (driver)")
            println(f"  [job ${j.id}%4d] $dur%7.3f s tasks=${j.nTasks}%4d ${j.site}")
            prevEnd = math.max(j.t1, prevEnd)
          }
          val tail = (t0 + (wall * 1e9).toLong - prevEnd) / 1e9
          if (tail > 0.02) println(f"  [gap] $tail%7.3f s (driver, tail)")
          println(f"  [sum] jobs=$jobSum%.2f s gaps+tail=${wall - jobSum}%.2f s " +
            s"njobs=${snap.size}")
        }
      }
    }
    spark.stop()
  }
}
