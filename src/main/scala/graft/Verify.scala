package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing names: dump only those gates (local iteration;
    // exactly two args → the full suite)
    val gates = Gates.select(args.toSeq.drop(2))
    val spark = EngineTuning.session(defaultCpus = "4")
    // SPARK_GRAFT_CHECKPOINT_DIR: run the whole suite on the CLUSTER
    // materialization posture — every Materialize.barrier becomes a
    // reliable checkpoint instead of the local[] fallback. Used for the
    // committed RELIABLE_CKPT proof run (no gate may silently depend on
    // localCheckpoint semantics); unset in driver runs.
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .foreach(spark.sparkContext.setCheckpointDir)
    new java.io.File(outDir).mkdirs()
    // contract: outDir/<name>.parquet, a parquet directory with that
    // literal name — readable as a pyarrow/pandas dataset path. Every gate
    // stands alone: the runner frees its blocks before the next one.
    gates.foreach { g =>
      Gates.run(spark, sfDir, g)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/${g._1}.parquet"))
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
