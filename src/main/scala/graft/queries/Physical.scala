package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** PHYSICAL-layout execution — the three scan-elision mechanisms that
  * decide whether a 100 TB query reads 100 TB or a sliver of it, each
  * with a loud in-gate PLAN witness (a silent fallback to the unpruned /
  * shuffled plan cannot masquerade as a pass) and a DuckDB oracle over
  * the BASE tables (so the staged physical layout must be value-complete
  * too):
  *
  *  - BUCKETING ([[qBucketedColocatedJoin]], [[qBucketPrunedScan]]):
  *    fact tables written `bucketBy(k, key).sortBy(key)` join WITHOUT
  *    exchanges — the shuffle that dominates every large fact⋈fact join
  *    is paid once at write time and amortized over every later join —
  *    and equality predicates on the bucket key prune the scan to one
  *    bucket's files.
  *  - STATIC partition pruning ([[qPartitionPrunedScan]]): hive-style
  *    `partitionBy` directories + a literal predicate prune at PLANNING
  *    time — the scan never lists the other partitions' files.
  *  - DYNAMIC partition pruning ([[qDppJoin]]): when the predicate is on
  *    a DIMENSION table, the fact side's partition filter only exists at
  *    RUNTIME — Spark broadcasts the filtered dim keys and prunes fact
  *    partitions with them (Spark's DPP, the star-schema scan killer).
  *
  * Scale shape: these are not operators so much as CONTRACTS with the
  * planner — at 1000 executors the difference between a pruned and an
  * unpruned fact scan is the whole job. The gates pin the contracts so a
  * plan regression (a cast blocking pruning, a misconfigured bucket
  * count breaking co-location) fails correctness, not just performance.
  *
  * Reference scope: the reference pipeline writes unpartitioned topics
  * and has no layout planner (its storage is the broker's log —
  * `/root/reference/docs/architecture.md:22-41`); this family is part of
  * the driver-mandated warehouse layer beyond it.
  */
object Physical extends graft.GateFamily {

  /** Buckets for the co-located join tables. Sized so local[32] gets
    * parallelism; on a cluster this is sized to (table size / target
    * partition bytes) and becomes part of the table contract — both
    * sides MUST agree for co-location.
    */
  val NBuckets = 8

  /** The physical plan AFTER exchange placement (EnsureRequirements) —
    * `sparkPlan` is pre-placement (every join looks exchange-free
    * there), and the AQE wrapper hides the tree from `collect`, so
    * unwrap to its current (pre-execution: initial) plan.
    */
  private[queries] def prepared(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  /** Every node of an (adaptively) executed plan, INCLUDING the bodies
    * of completed query stages: `QueryStageExec` is a leaf to `collect`
    * (its subtree already ran), so a post-execution witness that stops
    * at stage boundaries would silently see an empty plan and pass
    * vacuously — this descends into each stage's plan.
    */
  private[queries] def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val here = p.collect { case n => n }
    here ++ here.flatMap {
      case q: QueryStageExec => allNodes(q.plan)
      case _ => Nil
    }
  }

  private def scansOf(df: DataFrame): Seq[FileSourceScanExec] =
    prepared(df).collect { case f: FileSourceScanExec => f }

  /** Rows the scans over `tag`-rooted files actually SURFACED, from the
    * post-execution `numOutputRows` metric (descending into completed
    * stages). None if no such scan exists in the plan — callers must
    * treat that as a witness failure, not zero.
    */
  private[queries] def scannedRows(df: DataFrame, tag: String): Option[Long] = {
    val ns = allNodes(prepared(df)).collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths
        .exists(_.toString.contains(tag)) =>
        f.metrics("numOutputRows").value
    }
    if (ns.isEmpty) None else Some(ns.sum)
  }

  /** Stage lineitem + orders as bucketed, bucket-sorted catalog tables
    * once per (JVM, sf). `repartition(N, key)` before the write aligns
    * writer tasks with bucket ids (both are pmod(murmur3, N)), so each
    * bucket lands in ONE file — the layout under which Spark also
    * honors `sortBy` at read time and elides the join's sorts. Returns
    * the two table names (keyed by sf dir: one JVM may serve several
    * scale factors).
    */
  private[queries] def bucketedTables(s: SparkSession, d: String): (String, String) = {
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val (liName, ordName) = (s"graft_li_b_$tag", s"graft_ord_b_$tag")
    val dir = Cdc.gateTmpDir("graft_bucketed", d)
    def stage(name: String, df: DataFrame, key: String, path: String): Unit =
      if (!s.catalog.tableExists(name)) {
        df.repartition(NBuckets, col(key))
          .write.mode("overwrite").format("parquet")
          .bucketBy(NBuckets, key).sortBy(key)
          .option("path", path).saveAsTable(name)
      }
    stage(liName, Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice")),
      "l_orderkey", s"$dir/lineitem")
    stage(ordName, Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")),
      "o_orderkey", s"$dir/orders")
    (liName, ordName)
  }

  /** CO-LOCATED fact⋈fact join: both sides bucketed on the join key, so
    * the sort-merge join consumes the scans DIRECTLY — zero exchanges
    * below the join (the witness), because each bucket pair is already
    * co-partitioned. The `merge` hint pins SMJ (a broadcast would also
    * skip the shuffle, but by size, not by layout — the layout is what
    * survives when both sides are 100 TB). The only exchange in the
    * whole plan is the final rollup's, whose input is join output, not
    * base data.
    */
  def qBucketedColocatedJoin(s: SparkSession, d: String): DataFrame = {
    val (liName, ordName) = bucketedTables(s, d)
    val li = s.table(liName)
    val ord = s.table(ordName)
    val q = li.hint("merge")
      .join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(Tables.Money)).as("qty_sum"),
        sum(col("l_extendedprice").cast(Tables.Money)).as("price_sum"))
      .orderBy(col("o_orderpriority"))
    val smjs = prepared(q).collect { case j: SortMergeJoinExec => j }
    require(smjs.nonEmpty,
      s"q_bucketed_colocated_join: expected a SortMergeJoin; got:\n${prepared(q)}")
    val shuffles = smjs.flatMap(_.collect { case e: ShuffleExchangeLike => e })
    require(shuffles.isEmpty,
      s"q_bucketed_colocated_join: bucketed co-location failed — " +
        s"${shuffles.size} exchange(s) below the join:\n${prepared(q)}")
    q
  }

  /** BUCKET-pruned point lookup: an equality predicate on the bucket
    * column restricts the scan to the one bucket the key hashes into —
    * 1/N of the files, no index needed. The witness reads the scan's
    * own `SelectedBucketsCount` metadata. The key is the max orderkey
    * (computed from the base table — one scalar driver value; the
    * oracle recomputes it as a subquery), so the gate tracks the data
    * rather than pinning a literal that may not exist at every sf.
    *
    * Planner interplay (measured, not assumed): a PURE filter has no
    * "interesting partitioning" requirement, so Spark's
    * `DisableUnnecessaryBucketedScan` rule silently falls back to the
    * non-bucketed read — `Bucketed: false (disabled by query planner)`
    * — and the 1-of-N bucket prune is LOST with it (the join gate is
    * unaffected: its distribution requirement keeps the bucketed scan).
    * The gate pins `autoBucketedScan.enabled=false` for exactly its own
    * window and EXECUTES the lookup inside it ([[graft.Materialize]]
    * barrier — eager), so the witnessed pruned plan is the plan that
    * actually ran; the conf is restored in `finally`. On a real cluster
    * this is the point-lookup posture: you opt the lookup path into the
    * layout because 1/N of the files beats scan parallelism.
    */
  def qBucketPrunedScan(s: SparkSession, d: String): DataFrame = {
    val (liName, _) = bucketedTables(s, d)
    val k = Tables.lineitem(s, d).agg(max(col("l_orderkey"))).head.getLong(0)
    graft.EngineTuning.withConfs(s,
        "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      val q = s.table(liName)
        .filter(col("l_orderkey") === k)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_linenumber"))
      val pruned = scansOf(q).flatMap(_.metadata.get("SelectedBucketsCount"))
      require(pruned.exists(_.startsWith(s"1 out of $NBuckets")),
        s"q_bucket_pruned_scan: expected a 1-of-$NBuckets bucket-pruned " +
          s"scan; scan metadata: $pruned")
      graft.Materialize.barrier(q)
    }
  }

  /** Hive-style partitioned orders, staged once per (version, sf) —
    * shared across JVMs; deterministic bytes, atomic publish.
    */
  private def partitionedOrders(s: SparkSession, d: String): String = {
    val staged = Cdc.stageOnce(s, "graft_part_orders", d) { st =>
      Tables.orders(s, d).write.partitionBy("o_orderpriority")
        .parquet(s"$st/orders")
    }
    s"$staged/orders"
  }

  /** STATIC partition pruning: the table is laid out as one directory
    * per priority, and the literal predicate becomes a partition filter
    * — resolved against directory NAMES at planning time, so the four
    * non-matching partitions' files are never even listed into the scan.
    * Witness: the scan carries a real (non-IsNotNull) partition filter,
    * and the predicate does NOT appear as a data (row-level) filter —
    * pruning replaced filtering. Oracle: same predicate row-filtered
    * over the unpartitioned base, so the staged layout must also be
    * value-complete (a partition dropped or mis-keyed by the write
    * hash-mismatches).
    */
  def qPartitionPrunedScan(s: SparkSession, d: String): DataFrame = {
    val po = s.read.parquet(partitionedOrders(s, d))
    val q = po.filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(Tables.Money)).as("total_sum"))
      .orderBy(col("o_orderstatus"))
    val scans = scansOf(q)
    require(scans.exists(f =>
      f.partitionFilters.exists(e =>
        !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.IsNotNull])),
      s"q_partition_pruned_scan: no partition filter reached the scan:\n${prepared(q)}")
    require(scans.forall(_.dataFilters.forall(e =>
      !e.references.exists(_.name == "o_orderpriority"))),
      "q_partition_pruned_scan: the priority predicate fell through to a " +
        "row-level data filter — pruning did not happen")
    q
  }

  /** DYNAMIC partition pruning: customers partitioned by nation, the
    * predicate on the REGION lives on the dimension side — no static
    * partition filter exists. Spark's DPP reuses the dim side's
    * broadcast to prune fact partitions at runtime: only the 5 matching
    * nations' directories are scanned, without any change to the query.
    * The dim key is cast down to the fact side's (inferred int)
    * partition type so the fact reference stays a BARE attribute — a
    * cast on the partition column is exactly the regression that
    * silently disables DPP, which is why the witness requires the
    * dynamicpruning expression in the scan's partition filters.
    */
  def qDppJoin(s: SparkSession, d: String): DataFrame = {
    val staged = Cdc.stageOnce(s, "graft_part_cust", d) { st =>
      Tables.customer(s, d).write.partitionBy("c_nationkey")
        .parquet(s"$st/customer")
    }
    val fact = s.read.parquet(s"$staged/customer")
    val dim = Tables.nation(s, d).filter(col("n_regionkey") === 2)
    val q = fact.join(dim,
        fact("c_nationkey") === dim("n_nationkey").cast("int"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("c_acctbal").cast(Tables.Money)).as("bal_sum"))
      .orderBy(col("n_name"))
    val dpp = scansOf(q).filter(f =>
      f.relation.location.rootPaths.exists(_.toString.contains("graft_part_cust")) &&
        f.partitionFilters.exists(
          _.toString.toLowerCase.contains("dynamicpruning")))
    require(dpp.nonEmpty,
      s"q_dpp_join: no dynamicpruning partition filter on the fact scan:\n${prepared(q)}")
    q
  }

  /** SHUFFLE-FREE pre-aggregation on the bucket key: the bucketed scan's
    * hash layout already satisfies the aggregate's clustered-distribution
    * requirement, so the per-orderkey rollup consumes the scan DIRECTLY —
    * the aggregation shuffle, the single dominant cost of a 100 TB
    * fact-table rollup, was paid once at write time. The second,
    * metadata-sized aggregate (a histogram over the per-order rows) and
    * the presentation sort do shuffle — but their input is aggregate
    * output, ~|orders| rows, not base data. Witness: NO exchange in the
    * plan partitions on the bucket key — a layout regression (bucket/agg
    * key mismatch, a cast on the key, lost bucketing metadata) makes
    * EnsureRequirements insert `Exchange hashpartitioning(l_orderkey)`
    * between the partial and final per-order aggregates, which this
    * catches by its output partitioning. (An earlier draft required "an
    * aggregate beneath every exchange", which is vacuous for this shape:
    * the regression's exchange sits ABOVE the partial aggregate, so it
    * always had one beneath — round-10 review finding.)
    */
  def qBucketedAggElision(s: SparkSession, d: String): DataFrame = {
    val (liName, _) = bucketedTables(s, d)
    val perOrder = s.table(liName)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast(Tables.Money)).as("qty_sum"))
    val q = perOrder.groupBy(col("n_lines"))
      .agg(count(lit(1)).as("n_orders"), sum(col("qty_sum")).as("qty_total"))
      .orderBy(col("n_lines"))
    val aggs = prepared(q).collect { case a: BaseAggregateExec => a }
    require(aggs.nonEmpty, s"q_bucketed_agg_elision: no aggregate in plan")
    val keyed = prepared(q).collect { case e: ShuffleExchangeLike => e }
      .filter(_.outputPartitioning.toString.contains("l_orderkey"))
    require(keyed.isEmpty,
      s"q_bucketed_agg_elision: ${keyed.size} exchange(s) partition on the " +
        s"bucket key — the layout did not elide the rollup shuffle:\n" +
        s"${prepared(q)}")
    q
  }

  /** Target on-disk row-group size for the sorted-layout gate — small so
    * every local sf yields MANY groups (production uses the 128 MB
    * default; the witness pins the mechanism, not the number). 16 KB
    * gives 8 groups even at sf0.001's 6k rows.
    */
  val RowGroupBytes: Int = 16 * 1024

  /** ROW-GROUP statistics skipping — the third and finest rung of the
    * scan-elision ladder (partition directory → bucket file → row group):
    * the fact table is written GLOBALLY SORTED on the filter column with
    * small row groups, so each group's parquet min/max footer statistics
    * span a narrow time slice, and a pushed range predicate lets the
    * reader skip every non-intersecting group WITHOUT reading its pages —
    * the zone-map / clustering contract behind Delta/Iceberg `OPTIMIZE
    * ... ZORDER`-style maintenance (the 1-D case; the Z-order curve key
    * for multi-column clustering is `q_zorder_curve`).
    *
    * Witness is MEASURED, not structural: after execution the scan's
    * `numOutputRows` metric must be ≤ 1/4 of the table — rows the reader
    * actually surfaced after group skipping (a structural PushedFilters
    * check cannot distinguish skipping from reading everything and
    * filtering; the metric can, because surviving whole groups bound it
    * at groups-touched × rows-per-group). The 30-day cutoff covers ~1.2%
    * of the 2500-day span; with 64 KB groups the sorted layout touches
    * 1–2 of them. The unsorted control (every group spans the full
    * range — zero skippable) lives in `AdaptiveSpec`.
    *
    * At 100 TB this is the difference between reading a day and reading
    * seven years when the query is time-ranged and the layout is
    * ingest-time-clustered — the most common warehouse win there is.
    * Oracle: the same predicate row-filtered over the unsorted base, so
    * the sorted rewrite must also be value-complete.
    */
  def qRowgroupSkip(s: SparkSession, d: String): DataFrame = {
    // the cluster column is epoch-µs INT64, not the TIMESTAMP_NTZ
    // itself: Spark pushes the NTZ predicate to the source (PushedFilters
    // lists it) but parquet-mr never converts it to a row-group filter —
    // measured: 3 statistics-bearing sorted groups, zero skipped. The
    // monotone epoch twin is the layout column a production table would
    // carry anyway, and INT64 stats prune (measured: 8 groups, 1 read).
    val shipUs = unix_micros(col("l_shipdate").cast("timestamp"))
    val staged = Cdc.stageOnce(s, "graft_rg_sorted_us", d) { st =>
      Tables.lineitem(s, d)
        .select(shipUs.as("ship_us"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
        .repartition(1).sortWithinPartitions(col("ship_us"))
        .write.option("parquet.block.size", RowGroupBytes.toString)
        .option("parquet.page.size", (RowGroupBytes / 2).toString)
        .parquet(s"$st/lineitem")
    }
    val cutoffUs = Tables.lineitem(s, d).agg(min(shipUs)).head()
      .getLong(0) + 30L * 86400 * 1000000L
    val sorted = s.read.parquet(s"$staged/lineitem")
    val q = sorted.filter(col("ship_us") <= cutoffUs)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(Tables.Money)).as("qty_sum"),
        sum(col("l_extendedprice").cast(Tables.Money)).as("price_sum"))
      .orderBy(col("l_returnflag"))
    val out = graft.Materialize.barrier(q) // metrics exist only post-run
    val total = Tables.lineitem(s, d).count()
    val scanned = scannedRows(q, "graft_rg_sorted").getOrElse(
      throw new IllegalArgumentException(
        s"q_rowgroup_skip: staged sorted scan not found:\n${prepared(q)}"))
    require(scanned * 4 <= total,
      s"q_rowgroup_skip: scan surfaced $scanned of $total rows — " +
        "row-group statistics did not skip (layout or pushdown regression)")
    out
  }

  /** Row-group size for the Z-order gate — smaller than
    * [[RowGroupBytes]] so even sf0.001's 6k rows yield ~15 groups (the
    * 2-D witness needs enough groups for a 1/16-of-space box to touch
    * only a few).
    */
  val ZSkipGroupBytes: Int = 8 * 1024

  /** Day index of `l_shipdate` (µs are exact multiples of a day here, so
    * the double division is exact and the truncating cast is a floor).
    */
  private def dayIdx: org.apache.spark.sql.Column =
    (unix_micros(col("l_shipdate").cast("timestamp")) /
      lit(86400000000L)).cast("long")

  /** Z-ORDER row-group skipping — the MULTI-dimensional composition of
    * [[qRowgroupSkip]] (1-D sort) and the Morton key `q_zorder_curve`
    * computes: the table is written sorted by the interleaved curve of
    * (quantity, ship-day) — both normalized to 8 bits so neither
    * dimension dominates the interleave — and a 2-D box predicate
    * anchored at the curve's origin (qty ≤ 12 of 1–50, first quarter of
    * the date span ⇒ both normalized coords < 64) occupies ONE
    * contiguous Morton range of ~1/16 of the space. Every row group
    * outside it has min-stats above one of the two cuts, so parquet
    * skips it on qty OR day statistics — pruning on BOTH columns from
    * ONE sort order, which is the whole point of Z-order and what a
    * single-column sort cannot do (the 1-D control in `AdaptiveSpec`
    * scans ~4× more under the same predicates).
    *
    * The curve normalization lives ONLY in the write path; the query
    * and the oracle filter on the RAW stored columns, so no Morton
    * arithmetic ever crosses engines. Witness: measured scan
    * `numOutputRows` ≤ 1/4 of the table (expected ~1/16 + one boundary
    * group). At 100 TB this is the `OPTIMIZE ZORDER BY` maintenance
    * contract: time-ranged AND attribute-ranged queries both prune
    * against one layout.
    */
  def qZorderSkip(s: SparkSession, d: String): DataFrame = {
    val staged = Cdc.stageOnce(s, "graft_zorder_skip", d) { st =>
      val b = Tables.lineitem(s, d)
        .agg(min(dayIdx).as("lo"), max(dayIdx).as("hi")).head()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val spanP1 = (hi - lo + 1).toDouble
      val xb = floor(col("l_quantity") * 256.0 / 51.0).cast("long")
      val yb = floor((col("day_idx") - lo).cast("double") * 256.0 / spanP1)
        .cast("long")
      Tables.lineitem(s, d)
        .select(col("l_quantity"), dayIdx.as("day_idx"),
          col("l_returnflag"), col("l_extendedprice"))
        .withColumn("zval", Layout.zvalue(xb, yb))
        .repartition(1).sortWithinPartitions(col("zval"))
        .drop("zval")
        .write.option("parquet.block.size", ZSkipGroupBytes.toString)
        .option("parquet.page.size", (ZSkipGroupBytes / 2).toString)
        .parquet(s"$st/lineitem")
    }
    val b = Tables.lineitem(s, d)
      .agg(min(dayIdx).as("lo"), max(dayIdx).as("hi")).head()
    val dayCut = b.getLong(0) + (b.getLong(1) - b.getLong(0) + 1) / 4 - 1
    val q = s.read.parquet(s"$staged/lineitem")
      .filter(col("l_quantity") <= 12.0 && col("day_idx") <= dayCut)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(Tables.Money)).as("qty_sum"),
        sum(col("l_extendedprice").cast(Tables.Money)).as("price_sum"))
      .orderBy(col("l_returnflag"))
    val out = graft.Materialize.barrier(q)
    val total = Tables.lineitem(s, d).count()
    val scanned = scannedRows(q, "graft_zorder_skip").getOrElse(
      throw new IllegalArgumentException(
        s"q_zorder_skip: staged z-ordered scan not found:\n${prepared(q)}"))
    require(scanned * 4 <= total,
      s"q_zorder_skip: scan surfaced $scanned of $total rows — the " +
        "Morton layout did not prune on both dimensions")
    out
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bucketed_colocated_join" -> (qBucketedColocatedJoin _),
    "q_bucket_pruned_scan" -> (qBucketPrunedScan _),
    "q_partition_pruned_scan" -> (qPartitionPrunedScan _),
    "q_dpp_join" -> (qDppJoin _),
    "q_bucketed_agg_elision" -> (qBucketedAggElision _),
    "q_rowgroup_skip" -> (qRowgroupSkip _),
    "q_zorder_skip" -> (qZorderSkip _)
  )

  val oracle: Map[String, String] = Map(
    "q_bucketed_colocated_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty_sum,
        |  sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS price_sum
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_bucket_pruned_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem
        |WHERE l_orderkey = (SELECT max(l_orderkey) FROM lineitem)
        |ORDER BY l_linenumber""".stripMargin,

    "q_partition_pruned_scan" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  sum(CAST(o_totalprice AS DECIMAL(12,2))) AS total_sum
        |FROM orders
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dpp_join" ->
      """SELECT n_name, count(*) AS n_cust,
        |  sum(CAST(c_acctbal AS DECIMAL(12,2))) AS bal_sum
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_regionkey = 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_bucketed_agg_elision" ->
      """SELECT n_lines, count(*) AS n_orders, sum(qty_sum) AS qty_total
        |FROM (SELECT l_orderkey, count(*) AS n_lines,
        |        sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty_sum
        |      FROM lineitem GROUP BY 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_rowgroup_skip" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |  sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty_sum,
        |  sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS price_sum
        |FROM lineitem
        |WHERE l_shipdate <= (SELECT min(l_shipdate) + INTERVAL 30 DAY
        |                     FROM lineitem)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // filters on the RAW columns only — the Morton normalization never
    // crosses engines
    "q_zorder_skip" ->
      """WITH b AS (SELECT min(epoch_us(l_shipdate) // 86400000000) AS lo,
        |             max(epoch_us(l_shipdate) // 86400000000) AS hi
        |           FROM lineitem)
        |SELECT l_returnflag, count(*) AS n_items,
        |  sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty_sum,
        |  sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS price_sum
        |FROM lineitem, b
        |WHERE l_quantity <= 12.0
        |  AND epoch_us(l_shipdate) // 86400000000 <=
        |      lo + (hi - lo + 1) // 4 - 1
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
