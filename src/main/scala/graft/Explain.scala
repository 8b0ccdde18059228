package graft

/** Hand-inspection tool: for the named gates (all if none named) prints the
  * formatted physical plan, the timed noop-write, the run's receipt and one
  * line per Spark job — id, seconds, tasks and call site; the receipt's
  * idle time is the planning, codegen and commit work between them.
  *
  *   sbt "runMain graft.Explain q_cdc_enrich q_dedup_ngram"
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_CPUS (default 8),
  * SPARK_GRAFT_EXPLAIN=0 to skip plan printing (timing only), =2 to print
  * the POST-AQE executed plan instead. The plan is printed from the timed
  * run, so its planning (and =2's collect) counts in the time.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val gates = Gates.select(args.toSeq)
    val spark = EngineTuning.session(defaultCpus = "8")
    val mode = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN", "1")
    gates.foreach { case g @ (name, _) =>
      println(s"\n===== $name =====")
      val r = Gates.run(spark, sfDir, g) { df =>
        if (mode == "1") df.explain("formatted")
        Gates.noop(df)
        // the noop write runs through its OWN QueryExecution, so
        // df.queryExecution would still hold the initial plan
        // (isFinalPlan=false); execute THIS one so AQE finalizes it
        if (mode == "2") {
          df.collect()
          println(df.queryExecution.executedPlan.toString)
        }
      }
      println(f"[time] $name: ${r.wall}%.2f s")
      println(s"[receipt] $r")
      r.jobs.foreach { j =>
        println(f"  [job ${j.id}%4d] ${j.seconds}%7.3f s tasks=${j.tasks}%4d ${j.site}")
      }
    }
    spark.stop()
  }
}
