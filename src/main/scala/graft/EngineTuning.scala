package graft

import org.apache.spark.sql.SparkSession

/** Session-level engine tuning shared by every driver-contract main
  * (Bench / Verify / Explain / CdcDemo), so the measured posture
  * and the correctness posture can never drift apart. Both settings are
  * scale-ADAPTIVE (they delegate the actual sizing decision to AQE /
  * the workload) — see OPTIMIZATION_r13.md for the measurements behind
  * them.
  *
  *  - `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true`
  *    (guide §2.2/§2.4): the engine's `.stage()` (persist) call sites
  *    pin their shuffles' output partitioning when this is at its
  *    default `false` — AQE partition coalescing is disabled inside
  *    every cached plan, so a group-sized staged frame carries the full
  *    `spark.sql.shuffle.partitions` partition count into every
  *    downstream job (measured: 33–328-task jobs over ~15 K-row staged
  *    frames in the IVM gates; `q_cdc_mv_ivm` 8.3 → 6.6 s warm from
  *    this knob alone). With `true`, cached plans coalesce by BYTES
  *    exactly like uncached ones — tiny staged frames collapse to a few
  *    partitions, 100 TB staged frames keep thousands; nothing here is
  *    sized to local[32]. Correctness: only physical partitioning of
  *    cached frames changes; no gate derives values from a cached
  *    frame's layout (layout-dependent id assignment goes through
  *    `GlobalRank`, which pins its frame with `localCheckpoint` —
  *    unaffected by this conf).
  *
  *  - `spark.sql.codegen.cache.maxEntries` (default 100 → 20000): the
  *    whole-stage-codegen compile cache is keyed by generated source;
  *    a 223-query suite generates thousands of distinct classes, so at
  *    the default size every pass recompiles nearly everything
  *    (measured: `q_cdc_feed_chain` +530 Janino compiles ≈ 5.4 s on a
  *    WARM re-run; 0–111 with the cache sized to the suite —
  *    17.9 → 14.5 s). This is a JVM-wide compiler cache, not data or
  *    result caching: every query still computes from parquet every
  *    time, and the knob is workload-sized (number of distinct plan
  *    shapes), not data-sized.
  */
object EngineTuning {

  /** The tuned session confs, in the order [[apply]] sets them. */
  private val Tuning = Seq(
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.codegen.cache.maxEntries" -> "20000")

  /** STATIC-CONF constraint (round-13 advisory):
    * `spark.sql.codegen.cache.maxEntries` is a static SQL conf — it only
    * takes effect when set BEFORE the first SparkSession in the JVM, and
    * builder-supplied values are silently ignored once a session exists.
    * Every main calls this (through [[session]]) before `getOrCreate`; an
    * embedder that already created a session should call [[verify]] to
    * fail loudly instead of running with the 100-entry default.
    */
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    Tuning.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }

  /** The mains' one session: [[apply]]'s tuning on
    * `local[SPARK_GRAFT_CPUS]` (the caller's default when unset), as many
    * shuffle partitions as cores, UTC, no UI, plus the caller's `extra`
    * confs; then [[verify]] and WARN logging.
    */
  def session(defaultCpus: String, extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = extra.foldLeft(apply(SparkSession.builder())
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) =>
        b.config(k, v)
      }
      .getOrCreate()
    verify(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Assert the active session actually runs with the tuning [[apply]]
    * requested — catches the static-conf silent-ignore case above.
    */
  def verify(spark: SparkSession): Unit =
    Tuning.foreach { case (k, v) =>
      val got = spark.conf.get(k)
      require(got == v,
        s"EngineTuning: $k is '$got', expected '$v' — a SparkSession " +
          "existed before EngineTuning ran (static confs cannot be " +
          "applied retroactively); create the session through " +
          "EngineTuning(builder) before any other getOrCreate")
    }

  /** Run `body` with `confs` set on `s`'s session; the caller's values
    * come back afterwards, in a `finally` — a key that was unset before
    * is unset again, not pinned to its default (the raw session map, not
    * `conf.getOption`, which reports a registered key's default). A gate
    * must not leak its settings into later gates' plans.
    */
  def withConfs[A](s: SparkSession, confs: (String, String)*)(
      body: => A): A = {
    val set = s.conf.getAll
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) =>
      v.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }
}
