package graft.queries

import graft.EngineTuning.withConfs
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** RUNTIME-ADAPTIVE execution contracts — the two mechanisms that rescue
  * a 100 TB plan from statistics the planner could not know at compile
  * time, each pinned by a loud in-gate plan witness plus a DuckDB oracle
  * (the adaptation must be value-transparent — same rows, different
  * physical work):
  *
  *  - AQE SKEW-JOIN ([[qAqeSkewJoin]]): a shuffle join whose key
  *    distribution puts most of one side into a single partition is the
  *    canonical long-tail straggler — 999 executors idle while one sorts
  *    the hot key. AQE reads the map-output sizes at the stage boundary
  *    and SPLITS the oversized partition into advisory-sized chunks,
  *    duplicating the matching build-side partition per chunk
  *    (value-exact for joins because each row still meets every match).
  *    The library's salted join ([[graft.operators.SkewJoin]],
  *    `q_skew_salted`) handles KNOWN-hot keys at plan time; this gate
  *    pins the complementary runtime path for skew you didn't predict.
  *  - PLANNER-INJECTED runtime bloom filter ([[qRuntimeBloomJoin]]): when
  *    a selective dimension predicate sits on the build side of a shuffle
  *    join, Spark injects a bloom-filter aggregate over the dim keys and
  *    a `might_contain` probe onto the FACT side — fact rows that cannot
  *    join are dropped BEFORE the shuffle, which at 100 TB is the
  *    difference between shuffling the full fact table and shuffling the
  *    matching sliver. The library's hand-built
  *    [[graft.operators.BloomFilterJoin]] (`q_bloom_semi_join`) makes the
  *    same trade explicitly; this gate pins the OPTIMIZER's automatic
  *    version so a regression (a conf flip, a plan shape the injector
  *    stops recognizing) fails correctness, not just performance.
  *
  * Both gates run with small-data thresholds lowered INSIDE their own
  * conf window (restored in `finally`) — at sf0.01 no partition crosses
  * the production 256 MB skew threshold and no scan crosses the 10 GB
  * bloom application threshold, so without the window the mechanisms
  * would be witnessed against configs they'd never fire under locally.
  * On a cluster the defaults are the right ones; the gate pins the
  * MECHANISM, not the thresholds.
  *
  * Reference scope: the reference executes on a single consumer process
  * with no shuffle at all (`/root/reference/docs/architecture.md:22-41`);
  * this family is part of the driver-mandated warehouse layer beyond it.
  */
object Adaptive extends graft.GateFamily {

  /** AQE skew-join split, witnessed on the FINAL adaptive plan. The fact
    * side deliberately funnels every non-first lineitem row onto one hot
    * supplier key (~75% of the table into one shuffle partition — the
    * shape of a null-surrogate or default-value key in the wild); the
    * dim side stays 1:1 so the join is value-trivial and the oracle is
    * plain SQL. Thresholds are scaled to local data inside the window;
    * `forceOptimizeSkewedJoin` keeps the split even though the rollup
    * above loses the join's partitioning (the production trade: a extra
    * metadata-sized exchange beats a straggler by orders of magnitude).
    * The witness reads `isSkewJoin` off the executed SortMergeJoin — AQE
    * only sets it when it actually split a partition, so a pass proves
    * the runtime stats both detected and mitigated the skew.
    */
  def qAqeSkewJoin(s: SparkSession, d: String): DataFrame =
    withConfs(s,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      // sized so the hot partition's COMPRESSED map output crosses the
      // bar even at sf0.001 (~4.5k rows); production keeps the 256 MB
      // default — the witness pins the mechanism, not the numbers
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "24576",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "24576",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true") {
      // AQE splits a skewed REDUCE partition at MAP-output granularity:
      // each split spec is a contiguous range of mapper outputs. The
      // local fixtures are single-row-group parquet files — ONE mapper —
      // so the hot partition would be unsplittable however skewed
      // (measured: isSkewJoin stays false with a 13:1 partition ratio).
      // A production fact side arrives from thousands of scan tasks;
      // repartition(16) restores that map multiplicity explicitly. The
      // wide row (five measures) keeps the hot partition's COMPRESSED
      // map output above the lowered detection bar at every sf.
      val fact = Tables.lineitem(s, d).select(
        when(col("l_linenumber") >= 2, lit(1L))
          .otherwise(col("l_suppkey")).as("sk"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_shipdate"))
        .repartition(16)
      val dim = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"))
      val q = fact.join(dim, col("sk") === col("s_suppkey"))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(Tables.Money)).as("qty_sum"),
          sum(col("l_extendedprice").cast(Tables.Money)).as("price_sum"),
          sum(col("l_discount").cast(Tables.Money)).as("disc_sum"),
          sum(col("l_tax").cast(Tables.Money)).as("tax_sum"),
          max(col("l_shipdate")).as("last_ship"))
        .orderBy(col("s_nationkey"))
      // execute FIRST: skew handling exists only in the post-run plan,
      // and completed stages hide their bodies from collect — descend
      val out = graft.Materialize.barrier(q)
      val skewed = Physical.allNodes(Physical.prepared(q)).collect {
        case j: SortMergeJoinExec if j.isSkewJoin => j
      }
      require(skewed.nonEmpty,
        s"q_aqe_skew_join: no skew-split SortMergeJoin in the final " +
          s"adaptive plan:\n${Physical.prepared(q)}")
      out
    }

  /** Planner-injected runtime bloom filter, witnessed in the optimized
    * physical plan: the selective brand predicate on `part` becomes a
    * bloom aggregate whose `might_contain` probe filters the lineitem
    * side before its shuffle. Broadcast is disabled in the window so the
    * join stays a shuffle join — the regime where the injected filter
    * pays (a broadcast join already ships the small side everywhere);
    * the application-side size floor drops to 0 because the 10 GB
    * production default exists precisely to skip corpora this small.
    * The filter is value-transparent (false positives only — every
    * surviving row still meets the real join predicate), so the oracle
    * is the plain join.
    */
  def qRuntimeBloomJoin(s: SparkSession, d: String): DataFrame =
    withConfs(s,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val p = Tables.part(s, d).filter(col("p_brand") === "Brand#23")
        .select(col("p_partkey"), col("p_brand"))
      val q = li.join(p, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(Tables.Money)).as("qty_sum"),
          sum(col("l_extendedprice").cast(Tables.Money)).as("price_sum"))
        .orderBy(col("p_brand"))
      require(Physical.prepared(q).toString.contains("might_contain"),
        s"q_runtime_bloom_join: no might_contain probe was injected on " +
          s"the fact side:\n${Physical.prepared(q)}")
      // materialize INSIDE the conf window (round-10 advisory): the gate
      // returns lazily, and the caller's terminal write would build a
      // fresh QueryExecution after the thresholds are restored — the
      // witnessed bloom-probe plan and the executed plan must be the
      // same one, as qAqeSkewJoin already guarantees
      graft.Materialize.barrier(q)
    }

  /** AQE shuffle-partition COALESCING, witnessed on the executed plan —
    * the third runtime mechanism next to the skew split and the bloom
    * injection, and the one every misconfigured job hits first: a
    * shuffle whose static partition count is sized for the biggest
    * stage (or just defaulted) fans a small aggregate across hundreds
    * of near-empty reducers, paying task-launch and output-commit
    * overhead per partition. AQE reads the map-output sizes at the
    * stage boundary and MERGES adjacent sub-partitions up to the
    * advisory size, value-transparently (hash partitioning already
    * routed each key to exactly one sub-partition; merging changes
    * placement, never membership — the oracle is the plain SQL
    * aggregate).
    *
    * The window forces the mis-sizing locally: 200 shuffle partitions
    * (Spark's historical default — the engine's sessions size this to
    * the cluster, so the gate must mis-size explicitly) against a
    * corpus whose whole shuffle fits in a couple of advisory-sized
    * chunks; `parallelismFirst=false` makes AQE honor the advisory
    * size instead of protecting local parallelism, which is the
    * CLUSTER posture (the local default trades merge quality for core
    * utilization). The witness reads `partitionSpecs` off the executed
    * plan's `AQEShuffleReadExec`: EVERY exchange — the aggregate's hash
    * shuffle included, not just the orderBy's trivially-small range
    * read — must come back in ≤ an eighth of the configured 200; a
    * regression to the static fan-out fails correctness, not just
    * performance.
    */
  def qAqeCoalesce(s: SparkSession, d: String): DataFrame =
    withConfs(s,
      "spark.sql.shuffle.partitions" -> "200",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8388608") {
      val q = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity"), col("l_extendedprice"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(Tables.Money)).as("qty_sum"),
          sum(col("l_extendedprice").cast(Tables.Money)).as("price_sum"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
      // execute FIRST: coalescing exists only in the runtime-adaptive
      // plan, and completed stages hide their bodies — descend
      val out = graft.Materialize.barrier(q)
      // EVERY AQE shuffle read must come back coalesced (round-11
      // advisory: reads.min would let the aggregate's exchange keep its
      // 200-way fan-out as long as the orderBy's trivially-small range
      // read coalesced) — the aggregate's hash exchange is the one the
      // contract is about, and the sort's range exchange over a
      // group-count output coalesces a fortiori
      val reads = Physical.allNodes(Physical.prepared(q)).collect {
        case r: AQEShuffleReadExec => r.partitionSpecs.size
      }
      require(reads.nonEmpty && reads.max <= 25,
        s"q_aqe_coalesce: an AQE shuffle read kept more than 25 of the " +
          s"configured 200 partitions (got $reads):\n${Physical.prepared(q)}")
      out
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_aqe_skew_join" -> (qAqeSkewJoin _),
    "q_runtime_bloom_join" -> (qRuntimeBloomJoin _),
    "q_aqe_coalesce" -> (qAqeCoalesce _)
  )

  val oracle: Map[String, String] = Map(
    "q_aqe_skew_join" ->
      """SELECT s_nationkey, count(*) AS n_items,
        |  sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty_sum,
        |  sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS price_sum,
        |  sum(CAST(l_discount AS DECIMAL(12,2))) AS disc_sum,
        |  sum(CAST(l_tax AS DECIMAL(12,2))) AS tax_sum,
        |  max(l_shipdate) AS last_ship
        |FROM (SELECT CASE WHEN l_linenumber >= 2 THEN 1
        |             ELSE l_suppkey END AS sk,
        |        l_quantity, l_extendedprice, l_discount, l_tax, l_shipdate
        |      FROM lineitem) f
        |JOIN supplier ON sk = s_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_runtime_bloom_join" ->
      """SELECT p_brand, count(*) AS n_items,
        |  sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty_sum,
        |  sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS price_sum
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#23'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // plain aggregate — coalescing merges reducer partitions, never rows,
    // so the adaptive plan must be value-identical to the static one
    "q_aqe_coalesce" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_items,
        |  sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty_sum,
        |  sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS price_sum
        |FROM lineitem
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
