package graft

/** Plan-audit tool: prints the formatted physical plan and timed noop-write
  * for the named queries (all queries if none named).
  *
  *   sbt "runMain graft.Explain q_cdc_enrich q_dedup_ngram"
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_CPUS (default 8),
  * SPARK_GRAFT_EXPLAIN=0 to skip plan printing (timing only).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = EngineTuning.session(defaultCpus = "8")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val showPlan = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN", "1") == "1"
    val showFinal = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN", "1") == "2"
    names.foreach { name =>
      println(s"\n===== $name =====")
      if (showPlan) SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      // time from plan construction: queries with eager localCheckpoint do
      // real work at build time, which timing only the write would hide
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      println(f"[time] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      // EXPLAIN=2: the POST-AQE executed plan. The noop write above runs
      // through its OWN QueryExecution, so df.queryExecution would still
      // hold the initial plan (isFinalPlan=false); execute THIS one via
      // collect() so AQE finalizes on the printed plan.
      if (showFinal) {
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
