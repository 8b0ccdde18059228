package perfbench

import scala.collection.mutable

/** What one measured phase yields: its timings (`pass_s`, the end-to-end
  * metric, and the latency percentiles, which are reported per layer), the
  * workload's own per-layer metrics, and details for the result file.
  */
final case class Phase(e2e: Map[String, Double], layers: Map[String, Double],
    details: Map[String, Any])

/** One benchmark workload: set up and warm up once, then measure phases. */
trait Workload {
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  var attempted = 0L
  var failed = 0L

  /** Session-level set-up and warm-up, timed into `setup_s`. */
  def setUp(parent: Long): Unit

  /** Stage the inputs of the next measured phase (untimed). */
  def prepare(): Unit = ()

  /** One measured phase under the span `parent`. */
  def measure(parent: Long, seconds: Double): Phase

  /** Extra entries for the result file. */
  def result: Map[String, Any] = Map.empty
}
