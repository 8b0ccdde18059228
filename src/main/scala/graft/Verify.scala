package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing names: dump only those queries (local iteration;
    // the driver always passes exactly two args → full suite). A typo'd
    // name must fail loudly, not produce an empty successful run.
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    val spark = EngineTuning.session(defaultCpus = "4")
    // SPARK_GRAFT_CHECKPOINT_DIR: run the whole suite on the CLUSTER
    // materialization posture — every Materialize.barrier becomes a
    // reliable checkpoint instead of the local[] fallback. Used for the
    // committed RELIABLE_CKPT proof run (no gate may silently depend on
    // localCheckpoint semantics); unset in driver runs.
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .foreach(spark.sparkContext.setCheckpointDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // contract: outDir/<name>.parquet (a parquet directory with that
      // literal name — readable as a pyarrow/pandas dataset path)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      catch { case e: Throwable =>
        // the gate name, then the full trace and cause chain: a bare
        // getMessage prints `null` for an NPE and drops every cause
        System.err.println(s"[verify] $name failed:")
        e.printStackTrace()
      }
      // drop Materialize.stage persists (cache entries + blocks) and any
      // localCheckpoint blocks between queries — every gate stands alone
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // The driver keys each result by its output-directory name
    // ("<name>.parquet"); emit every oracle under BOTH the bare name and
    // the suffixed name so either lookup convention succeeds.
    val json = SparkEntry.oracleSql
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
