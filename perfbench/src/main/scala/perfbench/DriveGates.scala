package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The `drive_gates` workload: streaming drive gates run one at a time in a
  * closed loop through `SparkEntry.queries`, each action into the `noop`
  * sink, with cached blocks freed between gates. A measured phase runs at
  * least `minPasses` passes, so that `pass_s` is a median.
  */
final class DriveGates(spark: SparkSession, rec: Recorder, sf: String,
    dump: Path, seed: Long, minPasses: Int) extends Workload {
  import DriveGates.Gates

  private val rnd = new SplittableRandom(seed)
  private val queries = SparkEntry.queries
  private val errors = mutable.ArrayBuffer[String]()

  /** A cold pass that also writes each gate's result, next to its oracle
    * query in `oracle_sql.json`, for `scripts/oracle_check.py`. The first
    * execution of a gate in a JVM runs about three times slower than later
    * ones (codegen, JIT, engine start-up) and the second about 10 % slower;
    * the median of the measured passes absorbs the latter.
    */
  def setUp(parent: Long): Unit = {
    pass("warm-up pass (result dump)", parent, Some(dump))
    Files.writeString(dump.resolve("oracle_sql.json"),
      Json(Gates.map(g => g -> SparkEntry.oracleSql(g)).toMap))
  }

  /** Passes in a closed loop for `seconds`: after the first `minPasses`,
    * another pass starts only if it would end in time by the last pass's
    * length.
    */
  def measure(parent: Long, seconds: Double): Phase = {
    val t0 = rec.now()
    val passes = mutable.ArrayBuffer[(Map[String, Double], Span)]()
    def lastMs = passes.lastOption.map { case (_, s) => s.end - s.start }.getOrElse(0.0)
    while (passes.size < minPasses || rec.now() - t0 + lastMs <= seconds * 1000)
      passes += pass(s"pass ${passes.size + 1}", parent)
    val batchMs = rec.batchesIn(t0, rec.now())
      .map(_.durations.getOrElse("triggerExecution", 0L).toDouble).toArray.sorted
    checks.clear()
    checks += (("drive gates ran without throwing", errors.isEmpty,
      s"$attempted gate calls, $failed threw" + errors.map("; " + _).mkString))
    Phase(
      Map("pass_s" -> Main.median(passes.map { case (_, s) => (s.end - s.start) / 1000 }.toSeq),
        "lat_p50_ms" -> Main.pct(batchMs, 0.50), "lat_p99_ms" -> Main.pct(batchMs, 0.99)),
      Gates.map(g => s"gate.${g}_s" -> Main.median(passes.map(_._1(g)).toSeq)).toMap,
      Map("passes_s" -> passes.map { case (_, s) => (s.end - s.start) / 1000 },
        "batch_ms" -> batchMs, "gates" -> Gates))
  }

  override def result: Map[String, Any] = Map("oracle_dir" -> dump.toString)

  private def shuffled: Seq[String] = {
    val a = Gates.toArray
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  private def free(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs
      .filter { case (id, _) => !graft.queries.QueryMemo.isPinned(id) }
      .values.foreach(_.unpersist(true))
  }

  /** Run one gate; `dump` writes its result for the oracle check instead
    * of into the `noop` sink. Returns the call's wall seconds.
    */
  private def call(name: String, parent: Long, dump: Option[Path]): Double = {
    attempted += 1
    val (_, s) = rec.span("call", name, parent) { _ =>
      try {
        val df = queries(name)(spark, sf)
        dump match {
          case Some(dir) => df.coalesce(1).write.mode("overwrite")
            .parquet(dir.resolve(s"$name.parquet").toString)
          case None => df.write.format("noop").mode("overwrite").save()
        }
      } catch {
        case e: Throwable =>
          failed += 1
          errors += s"$name: $e"
          System.err.println(s"[perfbench] $name failed: $e")
      }
    }
    free()
    (s.end - s.start) / 1000
  }

  /** One pass over every gate in a seeded order; returns per-gate seconds. */
  private def pass(label: String, parent: Long, dump: Option[Path] = None)
      : (Map[String, Double], Span) =
    rec.span("pass", label, parent) { id =>
      shuffled.map(g => g -> call(g, id, dump)).toMap
    }
}

object DriveGates {
  /** The decoupled feed consumer: a `streamChangefeedDrive` producer
    * publishing and pruning `VersionedState` versions, tailed by a
    * `FeedConsumer` with its own checkpoint and state.
    */
  val Gates: Seq[String] = Seq("q_cdc_feed_consumer")
}
