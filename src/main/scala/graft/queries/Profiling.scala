package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.Ops

/** Table profiling — the "analyze" pass a pipeline runs before ingesting a
  * new source: per-column null counts, exact distinct cardinality, min/max.
  * One scan computes every column's stats as parallel aggregates (each with
  * map-side partials), then unpivots to one row per column — no per-column
  * rescans.
  */
object Profiling extends graft.GateFamily {

  private val OrdersCols =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")

  def qProfileOrders(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
    // One single-column aggregate per column, unioned: N distinct-counts in
    // ONE agg would plan as an Expand that multiplies every row (N+1)×
    // before the shuffle; per-column scans stay column-pruned and each
    // countDistinct gets a clean two-phase plan.
    OrdersCols.map { c =>
      ord.select(col(c))
        .agg(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c)).cast("string").as("min_value"),
          max(col(c)).cast("string").as("max_value"))
        .select(lit(c).as("column_name"), col("n_nulls"), col("n_distinct"),
          col("min_value"), col("max_value"))
    }.reduce(_ unionByName _)
      .orderBy(col("column_name"))
  }

  /** Fixed-width histogram bin (whole currency units). */
  private val BinWidth = 5000L

  /** Fixed-width histogram + CDF of lineitem prices: the distribution pass
    * behind partition-size planning and outlier fences. The bucket is
    * floor(price/width) in IEEE double, mirrored term-for-term in the
    * oracle (integer-cents would diverge: Spark's double→long cast
    * truncates where DuckDB's rounds). Scale shape: one narrow scan folds
    * into a tiny bucket aggregate (map-side partials); the running CDF
    * windows run over the O(buckets) aggregate, never the base table.
    */
  def qHistogramPrices(s: SparkSession, d: String): DataFrame = {
    val bins = Tables.lineitem(s, d)
      .select(floor(col("l_extendedprice") / BinWidth).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
    // metadata-window marker (see GlobalRank.metaPartitionKey): these
    // windows see the O(buckets) aggregate, never the base table; the
    // non-empty partition spec keeps WindowExec's single-partition
    // warning (and the plan-shape sweep) reserved for genuine defects
    val metaKey = graft.operators.GlobalRank.metaPartitionKey(col("bucket"))
    val wCum = Window.partitionBy(metaKey).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(metaKey).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    bins
      .withColumn("cum_n", sum(col("n")).over(wCum))
      .withColumn("total", sum(col("n")).over(wAll))
      .select(col("bucket"),
        (col("bucket") * BinWidth).as("lo"),
        ((col("bucket") + 1) * BinWidth).as("hi"),
        col("n"), col("cum_n"),
        floor(col("cum_n") * 10000L / col("total")).cast("long")
          .as("cdf_x10000"))
      .orderBy(col("bucket"))
  }

  /** Z-score outlier detection per order-priority group, in EXACT integer
    * arithmetic: |x−μ| > 1.5σ rewritten denominator-free as
    * 4·(n·x − S)² > 9·(n·Q − S²) with S=Σx, Q=Σx² in cents — float
    * mean/stddev are summation-order-dependent and would not reproduce
    * across partitionings, let alone engines. (1.5σ because the synthetic
    * prices are near-uniform: max |z| of a uniform is √3, so a 2σ fence
    * would be vacuously empty.) Scale shape: one tiny per-group aggregate
    * broadcast back over a narrow scan; the squares live in DECIMAL(38,0)
    * (≤26 digits here), the flag is a pure comparison, no division
    * anywhere.
    */
  def qZscoreOutliers(s: SparkSession, d: String): DataFrame = {
    val dec38 = "decimal(38,0)"
    val cents = (col("o_totalprice").cast(Tables.Money) * 100).cast("long")
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), cents.as("cents"))
    val stats = base.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).cast(dec38).as("s"),
        sum((col("cents") * col("cents")).cast(dec38)).as("q"))
    val dev = col("n").cast(dec38) * col("cents").cast(dec38) - col("s")
    val varN2 = col("n").cast(dec38) * col("q") - col("s") * col("s")
    base.join(broadcast(stats), "o_orderpriority")
      .filter(lit(4).cast(dec38) * dev * dev > lit(9).cast(dec38) * varN2)
      .select(col("o_orderkey"), col("o_orderpriority"), col("cents"),
        col("n"))
      .orderBy(col("o_orderkey"))
  }

  /** Exact per-group median (lower median, percentile_disc semantics):
    * the value at rank ⌈n/2⌉ under a fully deterministic order
    * (cents, then orderkey). Mirrored as the same window formulation in
    * the oracle rather than an engine median() whose interpolation and
    * tie rules differ. Scale shape: one shuffle on the group key for the
    * rank window; at 100 TB the same answer comes from a two-pass
    * histogram refine, but the single-window form is the exact gate.
    */
  def qExactMedian(s: SparkSession, d: String): DataFrame = {
    val cents = (col("o_totalprice").cast(Tables.Money) * 100).cast("long")
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("cents"), col("o_orderkey"))
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), cents.as("cents"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("o_orderpriority"))))
      .filter(col("rn") === ceil(col("n") / 2))
      .select(col("o_orderpriority"), col("n"),
        col("cents").as("median_cents"),
        col("o_orderkey").as("median_orderkey"))
      .orderBy(col("o_orderpriority"))
  }

  /** Wide→long melt via the native `unpivot` operator (vs the manual
    * union in [[qProfileOrders]]): per-priority order metrics unpivoted
    * to (priority, metric, value) rows. Unpivot is a zero-shuffle
    * Expand over the already-tiny aggregate — the standard shape for
    * feeding wide stats into long-format consumers.
    */
  def qUnpivotOrders(s: SparkSession, d: String): DataFrame = {
    val wide = Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        sum((col("o_totalprice").cast(Tables.Money) * 100).cast("long"))
          .as("total_cents"))
    wide.unpivot(
        Array(col("o_orderpriority")),
        Array(col("n_orders"), col("n_customers"), col("total_cents")),
        "metric", "value")
      .orderBy(col("o_orderpriority"), col("metric"))
  }

  /** Exact correlation sufficient statistics between quantity and price
    * per return flag: the denominator-free integer forms
    * cov_num = n·Σxy − Σx·Σy and var_num = n·Σx² − (Σx)² — float
    * covariance/`corr()` is summation-order-dependent and never
    * reproduces across partitionings; these DECIMAL(38,0)/HUGEINT
    * integers do, and any consumer can finish corr = cov/√(vx·vy) in
    * its own float domain. One tiny per-group aggregate, map-side
    * partials, O(groups) output.
    */
  def qCorrelationStats(s: SparkSession, d: String): DataFrame = {
    val dec38 = "decimal(38,0)"
    val x = (col("l_quantity").cast(Tables.Money) * 100).cast("long")
    val y = (col("l_extendedprice").cast(Tables.Money) * 100).cast("long")
    val st = Tables.lineitem(s, d)
      .select(col("l_returnflag"), x.as("x"), y.as("y"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast(dec38).as("sx"),
        sum(col("y")).cast(dec38).as("sy"),
        sum((col("x") * col("x")).cast(dec38)).as("sxx"),
        sum((col("y") * col("y")).cast(dec38)).as("syy"),
        sum((col("x") * col("y")).cast(dec38)).as("sxy"))
    val nD = col("n").cast(dec38)
    val cov = nD * col("sxy") - col("sx") * col("sy")
    st.select(col("l_returnflag"), col("n"),
        cov.as("cov_num"),
        (nD * col("sxx") - col("sx") * col("sx")).as("varx_num"),
        (nD * col("syy") - col("sy") * col("sy")).as("vary_num"),
        when(cov > 0, "pos").when(cov < 0, "neg").otherwise("zero")
          .as("corr_sign"))
      .orderBy(col("l_returnflag"))
  }

  /** Data-validation suite (the expectation checks a pipeline gates a
    * table publish on): null keys, duplicate primary keys, out-of-range
    * measures, and referential orphans, each reported as
    * (check, n_violations, n_checked). Scale shape: ALL per-column checks
    * on a table fold into ONE aggregate over ONE scan (map-side partials)
    * and unpivot from the single result row — never a scan per check; the
    * two referential checks are anti-joins that shuffle only the key
    * column. A healthy 100 TB table answers in two scans + two slim joins.
    */
  def qDataValidation(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val cust = Tables.customer(s, d)
    def pivotChecks(agg: DataFrame): DataFrame =
      agg.unpivot(Array(col("n_checked")),
          agg.columns.filter(c => c != "n_checked").map(col).toArray,
          "check", "n_violations")
        .select(col("check"), col("n_violations"), col("n_checked"))
    // each stats row is materialized ONCE (it is one row) and reused by
    // both the unpivot and the orphan checks' n_checked — without the
    // checkpoint each consumer subtree would re-run the full-table scan
    val ordStats = ord.agg(
      count(lit(1)).as("n_checked"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
        .as("orders_null_custkey"),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L))
        .as("orders_nonpositive_totalprice"),
      (count(col("o_orderkey")) - countDistinct(col("o_orderkey")))
        .as("orders_duplicate_orderkey")).stage()
    val liStats = li.agg(
      count(lit(1)).as("n_checked"),
      sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
        .otherwise(0L)).as("lineitem_discount_out_of_range"),
      sum(when(col("l_quantity") <= 0, 1L).otherwise(0L))
        .as("lineitem_nonpositive_quantity"),
      sum(when(col("l_shipdate") < lit("1990-01-01").cast("timestamp") ||
        col("l_shipdate") >= lit("2010-01-01").cast("timestamp"), 1L)
        .otherwise(0L)).as("lineitem_shipdate_out_of_bounds"))
      .stage()
    // orphan checks: key-only anti joins; n_checked comes from the
    // already-materialized stats row, never a recount of the probe table
    def orphans(name: String, probe: DataFrame, pk: String,
        build: DataFrame, bk: String, stats: DataFrame): DataFrame =
      probe.select(col(pk))
        .join(build.select(col(bk)), col(pk) === col(bk), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .crossJoin(broadcast(stats.select(col("n_checked"))))
        .select(lit(name).as("check"), col("n_violations"), col("n_checked"))
    pivotChecks(ordStats)
      .unionByName(pivotChecks(liStats))
      .unionByName(orphans("lineitem_orphan_orderkey", li, "l_orderkey",
        ord, "o_orderkey", liStats))
      .unionByName(orphans("orders_orphan_custkey", ord, "o_custkey",
        cust, "c_custkey", ordStats))
      .orderBy(col("check"))
  }

  /** Drift flag threshold on the reported `tv_x1e6` statistic, which is
    * the L1 form Σ|p_A − p_B| ×10⁶ = 2·TV ×10⁶ — so 50000 flags once
    * 2.5% of probability mass has moved (TV ≥ 0.025). Stated in L1
    * terms because that is the exact quantity both engines compute
    * (round-8 advisory: the earlier doc called it "5% mass moved",
    * reading the L1 value as TV).
    */
  val DriftTvFlag = 50000L

  /** DISTRIBUTION DRIFT between two snapshots of the same table — the
    * monitoring pass that catches a broken upstream filter before it
    * poisons a training run: per categorical dimension, the exact
    * TOTAL-VARIATION distance (½·Σ|p_A − p_B|, reported as Σ|·| ×10⁶ …
    * the L1 form) between snapshot A and snapshot B, plus each
    * snapshot's Gini impurity (1 − Σp², the concentration witness).
    * TV and Gini instead of the PSI/KL convention because both are
    * EXACT in scaled-integer arithmetic — no log, no float, so the
    * gate hash-matches (the [[Curation.qDsirSample]] lesson: a
    * quantized log collapses sub-bit signal; TV keeps it linearly).
    *
    * Fixture: snapshot A = all orders; snapshot B simulates the broken
    * filter — every even-keyed URGENT order dropped. The priority
    * dimension must flag (L1 ≈ 0.18, i.e. TV ≈ 9% of mass moved, well
    * past the [[DriftTvFlag]] 2.5% line); status and the
    * price-bucket dimension see only the removal's incidental
    * correlation (TV ≪ threshold) and must come out clean — the gate
    * hash-checks the flags, so a monitor that cried wolf on every
    * dimension (or missed the planted drift) mismatches.
    *
    * Scale shape: one melt scan fans each row to |dims| slim
    * (dim, value) rows with an in-scan B-membership flag — both
    * snapshots' counts ride ONE map-side-combined aggregate, no second
    * scan; per-dim totals are a second tiny rollup broadcast back;
    * output is O(dims). At 100 TB this is the profile-scan cost,
    * whatever the dimension count.
    */
  def qDistributionDrift(s: SparkSession, d: String): DataFrame = {
    val idiv = graft.text.TextOps.idiv _
    val ord = Tables.orders(s, d)
    val inB = !(col("o_orderpriority") === "1-URGENT" &&
      col("o_orderkey") % 2 === 0)
    val dims = explode(array(
      struct(lit("priority").as("dim"), col("o_orderpriority").as("v")),
      struct(lit("status").as("dim"), col("o_orderstatus").as("v")),
      struct(lit("price_bucket").as("dim"),
        floor(col("o_totalprice") / 50000d).cast("string").as("v"))))
    val counts = ord.select(dims.as("x"), inB.as("in_b"))
      .groupBy(col("x.dim").as("dim"), col("x.v").as("v"))
      .agg(count(lit(1)).as("na"),
        sum(when(col("in_b"), 1L).otherwise(0L)).as("nb"))
      .stage() // per-dim totals + the per-value freq pass both read it
    val totals = counts.groupBy(col("dim").as("tdim"))
      .agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
    counts.join(broadcast(totals), col("dim") === col("tdim"))
      .select(col("dim"),
        idiv(col("na") * 1000000L, col("ta")).as("fa"),
        idiv(col("nb") * 1000000L, col("tb")).as("fb"))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n_values"),
        sum(abs(col("fa") - col("fb"))).as("tv_x1e6"),
        (lit(1000000L) - idiv(sum(col("fa") * col("fa")), lit(1000000L)))
          .as("gini_a_x1e6"),
        (lit(1000000L) - idiv(sum(col("fb") * col("fb")), lit(1000000L)))
          .as("gini_b_x1e6"))
      .select(col("dim"), col("n_values"), col("tv_x1e6"),
        col("gini_a_x1e6"), col("gini_b_x1e6"),
        (col("tv_x1e6") > DriftTvFlag).as("drifted"))
      .orderBy(col("dim"))
  }

  val oracle: Map[String, String] = Map(
    // the same melt + double-count pass in SQL; TV and Gini fold the
    // identical ×1e6 floored frequencies, so the integers agree exactly
    "q_distribution_drift" ->
      s"""WITH m AS (SELECT u.dim, u.v,
         |    NOT (o_orderpriority = '1-URGENT' AND o_orderkey % 2 = 0)
         |      AS in_b
         |  FROM orders
         |  CROSS JOIN unnest([
         |    {'dim': 'priority', 'v': o_orderpriority},
         |    {'dim': 'status', 'v': o_orderstatus},
         |    {'dim': 'price_bucket',
         |     'v': CAST(CAST(floor(o_totalprice / 50000) AS BIGINT)
         |          AS VARCHAR)}]) u(u)),
         |c AS (SELECT dim, v, CAST(count(*) AS BIGINT) AS na,
         |    CAST(sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS nb
         |  FROM m GROUP BY 1, 2),
         |t AS (SELECT dim, CAST(sum(na) AS BIGINT) AS ta,
         |    CAST(sum(nb) AS BIGINT) AS tb FROM c GROUP BY 1),
         |f AS (SELECT c.dim, (c.na * 1000000) // t.ta AS fa,
         |    (c.nb * 1000000) // t.tb AS fb
         |  FROM c JOIN t USING (dim))
         |SELECT dim, CAST(count(*) AS BIGINT) AS n_values,
         |  CAST(sum(abs(fa - fb)) AS BIGINT) AS tv_x1e6,
         |  CAST(1000000 - sum(fa * fa) // 1000000 AS BIGINT)
         |    AS gini_a_x1e6,
         |  CAST(1000000 - sum(fb * fb) // 1000000 AS BIGINT)
         |    AS gini_b_x1e6,
         |  sum(abs(fa - fb)) > $DriftTvFlag AS drifted
         |FROM f GROUP BY dim ORDER BY dim""".stripMargin,
    "q_data_validation" ->
      """WITH o AS (SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS null_ck,
        |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nonpos_tp,
        |    CAST(count(o_orderkey) - count(DISTINCT o_orderkey)
        |      AS BIGINT) AS dup_ok
        |  FROM orders),
        |l AS (SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS disc_oor,
        |    CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nonpos_qty,
        |    CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1990-01-01'
        |      OR l_shipdate >= TIMESTAMP '2010-01-01' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS ship_oob
        |  FROM lineitem)
        |SELECT 'orders_null_custkey' AS "check", null_ck AS n_violations,
        |  n AS n_checked FROM o
        |UNION ALL SELECT 'orders_nonpositive_totalprice', nonpos_tp, n FROM o
        |UNION ALL SELECT 'orders_duplicate_orderkey', dup_ok, n FROM o
        |UNION ALL SELECT 'lineitem_discount_out_of_range', disc_oor, n FROM l
        |UNION ALL SELECT 'lineitem_nonpositive_quantity', nonpos_qty, n FROM l
        |UNION ALL SELECT 'lineitem_shipdate_out_of_bounds', ship_oob, n FROM l
        |UNION ALL SELECT 'lineitem_orphan_orderkey',
        |  (SELECT count(*) FROM lineitem WHERE NOT EXISTS
        |    (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)),
        |  (SELECT count(*) FROM lineitem)
        |UNION ALL SELECT 'orders_orphan_custkey',
        |  (SELECT count(*) FROM orders WHERE NOT EXISTS
        |    (SELECT 1 FROM customer WHERE c_custkey = o_custkey)),
        |  (SELECT count(*) FROM orders)
        |ORDER BY "check"""".stripMargin,

    "q_correlation_stats" ->
      """WITH b AS (SELECT l_returnflag,
        |    CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS x,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
        |  FROM lineitem),
        |st AS (SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT)*x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(y AS HUGEINT)*y) AS HUGEINT) AS syy,
        |    CAST(sum(CAST(x AS HUGEINT)*y) AS HUGEINT) AS sxy
        |  FROM b GROUP BY 1)
        |SELECT l_returnflag, n,
        |  CAST(n*sxy - sx*sy AS DECIMAL(38,0)) AS cov_num,
        |  CAST(n*sxx - sx*sx AS DECIMAL(38,0)) AS varx_num,
        |  CAST(n*syy - sy*sy AS DECIMAL(38,0)) AS vary_num,
        |  CASE WHEN n*sxy - sx*sy > 0 THEN 'pos'
        |       WHEN n*sxy - sx*sy < 0 THEN 'neg'
        |       ELSE 'zero' END AS corr_sign
        |FROM st ORDER BY l_returnflag""".stripMargin,

    "q_unpivot_orders" ->
      """WITH wide AS (SELECT o_orderpriority,
        |    count(*) AS n_orders,
        |    count(DISTINCT o_custkey) AS n_customers,
        |    sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
        |      AS total_cents
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, metric, CAST(value AS BIGINT) AS value
        |FROM wide
        |UNPIVOT (value FOR metric IN (n_orders, n_customers, total_cents))
        |ORDER BY o_orderpriority, metric""".stripMargin,

    "q_zscore_outliers" ->
      """WITH b AS (SELECT o_orderkey, o_orderpriority,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |st AS (SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(cents) AS HUGEINT) AS s,
        |  CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS q
        |  FROM b GROUP BY 1)
        |SELECT o_orderkey, b.o_orderpriority, cents, n
        |FROM b JOIN st ON b.o_orderpriority = st.o_orderpriority
        |WHERE 4*(n*cents - s)*(n*cents - s) > 9*(n*q - s*s)
        |ORDER BY o_orderkey""".stripMargin,

    "q_exact_median" ->
      """WITH b AS (SELECT o_orderkey, o_orderpriority,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders),
        |r AS (SELECT *,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY cents, o_orderkey) AS rn,
        |  count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM b)
        |SELECT o_orderpriority, n, cents AS median_cents,
        |  o_orderkey AS median_orderkey
        |FROM r WHERE rn = ceil(n / 2.0)
        |ORDER BY o_orderpriority""".stripMargin,

    "q_histogram_prices" ->
      s"""WITH b AS (SELECT CAST(floor(l_extendedprice / $BinWidth) AS BIGINT)
         |    AS bucket
         |  FROM lineitem),
         |g AS (SELECT bucket, count(*) AS n FROM b GROUP BY 1),
         |c AS (SELECT *,
         |  sum(n) OVER (ORDER BY bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
         |  sum(n) OVER () AS total
         |  FROM g)
         |SELECT bucket, bucket * $BinWidth AS lo,
         |  (bucket + 1) * $BinWidth AS hi, n, CAST(cum_n AS BIGINT) AS cum_n,
         |  CAST(cum_n * 10000 // total AS BIGINT) AS cdf_x10000
         |FROM c ORDER BY bucket""".stripMargin,

    "q_profile_orders" -> OrdersCols.map { c =>
      s"""SELECT '$c' AS column_name,
         |  CAST(count(*) FILTER ($c IS NULL) AS BIGINT) AS n_nulls,
         |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  CAST(min($c) AS VARCHAR) AS min_value,
         |  CAST(max($c) AS VARCHAR) AS max_value
         |FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_profile_orders" -> (qProfileOrders _),
    "q_histogram_prices" -> (qHistogramPrices _),
    "q_zscore_outliers" -> (qZscoreOutliers _),
    "q_exact_median" -> (qExactMedian _),
    "q_unpivot_orders" -> (qUnpivotOrders _),
    "q_correlation_stats" -> (qCorrelationStats _),
    "q_data_validation" -> (qDataValidation _),
    "q_distribution_drift" -> (qDistributionDrift _)
  )
}
