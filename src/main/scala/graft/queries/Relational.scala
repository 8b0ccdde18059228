package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Relational query library over the TESTDATA tables.
  *
  * Reference parity note: the reference (mannjg/pulsar-cdc-experiment) has no
  * relational operators at all (SURVEY.md §2.3–2.7 — evidence of absence);
  * this layer supplies the driver-mandated relational core using built-in
  * Catalyst operators only. Design rules for 100 TB (SURVEY.md §6):
  *   - declarative DataFrame plans only — pushdown/pruning/join-reorder free;
  *   - exact DECIMAL aggregates (order-independent, cluster-reproducible);
  *   - broadcast() the bounded-size dimension side of every star join
  *     (region/nation stay tiny at any SF; fact tables are never broadcast);
  *   - deterministic total ordering on every output (oracle hash parity),
  *     with unique tie-break keys so LIMIT/window results are stable.
  */
object Relational extends graft.GateFamily {

  private val one = lit(1.00).cast(Tables.Rate) // exact 1.00 for (1±rate)
  private def ts(s: String): Column = lit(s).cast("timestamp")

  /** q1: pricing summary — full-scan groupBy aggregate (TPC-H Q1 shape).
    * Scale: partial (map-side) aggregation over ~6 groups → tiny shuffle.
    */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame = {
    Tables.lineitemDec(s, d)
      .filter(col("l_shipdate") <= ts("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice") * (one - col("l_discount"))).as("sum_disc_price"),
        sum(col("l_extendedprice") * (one - col("l_discount")) * (one + col("l_tax"))).as("sum_charge"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q3: shipping priority — 3-way fact/dim join + agg + top-k.
    * Scale: filters pushed below the joins by Catalyst; orders⋈lineitem is a
    * shuffle join on the natural key; top-k plans as TakeOrderedAndProject
    * (no global sort of the full result).
    */
  def q3ShippingPriority(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, d).filter(col("o_orderdate") < ts("1998-06-15"))
    val li = Tables.lineitemDec(s, d).filter(col("l_shipdate") > ts("1998-06-15"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(col("l_extendedprice") * (one - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** q5: revenue by nation within a region — 6-way star join.
    * Scale: region/nation/supplier dims are broadcast (no shuffle for them);
    * only orders⋈lineitem shuffles. c/s nationkey equality applied post-join.
    */
  def q5RegionRevenue(s: SparkSession, d: String): DataFrame = {
    val region = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(s, d)
    val cust = Tables.customer(s, d)
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1997-01-01"))
    val li = Tables.lineitemDec(s, d)
    val supp = Tables.supplier(s, d)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      // supplier scales with SF — no broadcast hint; AQE decides by size
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("l_extendedprice") * (one - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** q6: forecast revenue — selective scan-side filters + single aggregate.
    * Scale: all three predicates push to the parquet scan (PushedFilters);
    * zero joins, one partial+final agg.
    */
  def q6ForecastRevenue(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01"))
      .filter(col("l_discount") >= 0.02 && col("l_discount") <= 0.06)
      .filter(col("l_quantity") < 24)
      .select(
        (col("l_extendedprice").cast(Tables.Money) * col("l_discount").cast(Tables.Rate)).as("d"))
      .agg(sum(col("d")).as("revenue"), count(lit(1)).as("n_items"))
  }

  /** q10: returned-item losses — join + agg + top-k with dim lookup. */
  def q10ReturnedItems(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitemDec(s, d).filter(col("l_returnflag") === "R")
    val ord = Tables.orders(s, d)
    val cust = Tables.customer(s, d)
    val nation = Tables.nation(s, d)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(col("l_extendedprice") * (one - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** q14: promo revenue share — fact⋈dim join with conditional aggregation.
    * Emits the two exact sums instead of their ratio (double division is
    * engine-dependent; decimal sums are not).
    */
  def q14PromoShare(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitemDec(s, d)
      .filter(col("l_shipdate") >= ts("1997-01-01") && col("l_shipdate") < ts("1997-07-01"))
    val part = Tables.part(s, d)
    val disc = col("l_extendedprice") * (one - col("l_discount"))
    li.join(part, col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", disc).otherwise(lit(0).cast(Tables.Money))).as("promo_revenue"),
        sum(disc).as("total_revenue"),
        count(lit(1)).as("n_items"))
  }

  /** q18: large-volume orders — group-HAVING over the fact table then join.
    * Scale: the HAVING aggregation reduces lineitem to few keys *before* the
    * join back to orders/customer — aggregate-then-join, not join-then-filter.
    */
  def q18LargeOrders(s: SparkSession, d: String): DataFrame = {
    val bigOrders = Tables.lineitemDec(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 150)
    val ord = Tables.ordersDec(s, d)
    val cust = Tables.customer(s, d)
    bigOrders
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("sum_qty").desc, col("o_orderkey"))
  }

  /** q4: order priority with EXISTS — left-semi join (no row duplication). */
  def q4PrioritySemi(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
    val li = Tables.lineitem(s, d).filter(col("l_quantity") > 45)
    ord.join(li, ord("o_orderkey") === li("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** anti join: customers with no 1995 orders, counted per nation. */
  def qAntiCustomers(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= ts("1995-01-01") && col("o_orderdate") < ts("1996-01-01"))
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_no_orders"))
      .orderBy(col("c_nationkey"))
  }

  /** top-k customers by lifetime spend — TakeOrderedAndProject. */
  def qTopCustomers(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.ordersDec(s, d)
    val cust = Tables.customer(s, d)
    ord.groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice")).as("total_spent"), count(lit(1)).as("n_orders"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("total_spent"), col("n_orders"))
      .orderBy(col("total_spent").desc, col("c_custkey"))
      .limit(15)
  }

  /** Correlated LATERAL subquery with LIMIT — the SQL-surface twin of
    * [[qWindowRank]]: "each customer's top-2 orders" written the way an
    * analyst writes it (a per-row dependent subquery), executed the way a
    * cluster must run it. Catalyst DECORRELATES the lateral into one
    * equi-join against a ranked-and-limited orders side, and pushes the
    * LIMIT down as `WindowGroupLimit` — a map-side per-group top-k BEFORE
    * the window's shuffle, so each partition forwards at most k rows per
    * key instead of the whole fact table. The gate `require`s that
    * operator in the optimized plan: it is the difference between a plan
    * that scales (shuffle carries ≤ 2·|custkeys| rows) and a naive
    * per-row re-execution or a full-table window sort — silently losing
    * the rewrite fails correctness, not just the bench. Cents are exact
    * integers; `(cents DESC, o_orderkey)` is a total order so the top-2
    * set is unique and engine-independent.
    */
  def qLateralTopk(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("graft_lat_cust")
    Tables.orders(s, d).createOrReplaceTempView("graft_lat_ord")
    val q = s.sql(
      """SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.cents
        |FROM graft_lat_cust c,
        |LATERAL (SELECT o_orderkey,
        |           CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |             AS cents
        |         FROM graft_lat_ord o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY cents DESC, o_orderkey LIMIT 2) t
        |ORDER BY c.c_custkey, cents DESC, o_orderkey""".stripMargin)
    val plan = q.queryExecution.optimizedPlan.toString
    require(plan.contains("WindowGroupLimit"),
      s"q_lateral_topk: expected the decorrelated rank-limit pushdown " +
        s"(WindowGroupLimit) in the optimized plan; got:\n$plan")
    q
  }

  /** window ranking: top-3 orders per customer by price (row_number with a
    * unique tie-break so ranks are deterministic).
    */
  def qWindowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.ordersDec(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** running window aggregate: cumulative revenue per supplier in ship order
    * (decimal running sum over a deterministic frame ordering).
    */
  def qWindowRunning(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitemDec(s, d)
      .filter(col("l_suppkey") <= 5)
      .withColumn("running_revenue",
        sum(col("l_extendedprice") * (one - col("l_discount"))).over(w))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("running_revenue"))
      .orderBy(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
  }

  /** RANGE-frame window: 7-day trailing revenue per supplier — the frame is
    * defined by the VALUE distance on the epoch-day ordering key (days with
    * no shipments shrink the window), not a row count; the planner's range-
    * frame path is distinct from every ROWS frame elsewhere in the library.
    * Scale shape: daily pre-aggregation first, so the window runs over
    * O(suppliers × active days), not raw lineitems.
    */
  def qWindowRangeFrame(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.lineitemDec(s, d)
      .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("day"))
      .agg(sum(col("l_extendedprice")).as("day_rev"))
      .withColumn("day_num",
        datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("day_num"))
      .rangeBetween(-6, 0)
    daily
      .withColumn("rev_7d", sum(col("day_rev")).over(w))
      .select(col("l_suppkey"), col("day"), col("day_rev"), col("rev_7d"))
      .orderBy(col("l_suppkey"), col("day"))
  }

  /** q7 shape: bilateral trade volume — two broadcast nation lookups with a
    * cross-pair predicate, yearly decimal volume.
    */
  def q7TradeVolume(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitemDec(s, d)
    val supp = Tables.supplier(s, d)
    val ord = Tables.orders(s, d)
    val cust = Tables.customer(s, d)
    val n1 = Tables.nation(s, d)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val pair = (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
      (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1")
    li.join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter(pair)
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(sum(col("l_extendedprice") * (one - col("l_discount"))).as("volume"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** q9 shape: profit by supplier nation × year × product type.
    * profit = extprice·(1−disc) − retailprice·qty (this schema has no
    * partsupp cost, so part retail price stands in), all exact decimal.
    */
  def q9ProductProfit(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitemDec(s, d)
    val part = Tables.part(s, d)
    val supp = Tables.supplier(s, d)
    val nation = Tables.nation(s, d)
    val profit = col("l_extendedprice") * (one - col("l_discount")) -
      col("p_retailprice").cast(Tables.Money) * col("l_quantity")
    li.join(part, col("l_partkey") === col("p_partkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("l_shipdate")).as("o_year"), col("p_type"))
      .agg(sum(profit).as("sum_profit"))
      .orderBy(col("n_name"), col("o_year"), col("p_type"))
  }

  /** q8 shape: national market share — NATION_1 suppliers' slice of
    * STANDARD-part revenue sold to EUROPE customers, per order year.
    * Emits exact-decimal numerator/denominator instead of the float
    * ratio so the result is bit-reproducible across partitionings (the
    * division is a trivial client-side step).
    *
    * Scale: lineitem→orders→customer are the three big shuffles and all
    * key on their join columns; part is pre-filtered to one type before
    * the join (1/6 selectivity reaches the parquet scan as a pushed
    * filter); nation/region are broadcast. The two nation roles reuse
    * one cached-by-Spark scan with disjoint aliases.
    */
  def q8MarketShare(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitemDec(s, d)
    val part = Tables.part(s, d).filter(col("p_type") === "STANDARD")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= ts("1996-01-01") &&
        col("o_orderdate") < ts("1998-01-01"))
    val cust = Tables.customer(s, d)
    val cNat = Tables.nation(s, d)
      .select(col("n_nationkey").as("c_nk"), col("n_regionkey").as("c_rk"))
    val eur = Tables.region(s, d).filter(col("r_name") === "EUROPE")
    val sNat = Tables.nation(s, d)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val vol = col("l_extendedprice") * (one - col("l_discount"))
    li.join(part, col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(cNat), col("c_nationkey") === col("c_nk"))
      .join(broadcast(eur), col("c_rk") === col("r_regionkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(sNat), col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_1", vol)
          .otherwise(lit(0).cast(Tables.Money))).as("nation_volume"),
        sum(vol).as("total_volume"))
      .orderBy(col("o_year"))
  }

  /** q12 shape: late-shipment counts by priority band — CASE aggregation
    * over a date-window filter.
    */
  def q12ShipPriority(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01"))
    val ord = Tables.orders(s, d)
    val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(urgent, 1L).otherwise(0L)).as("high_line_count"),
        // NULL priority must land in `low` (the oracle's CASE ELSE 1);
        // `when(!urgent, 1)` would drop it from both buckets (NOT NULL is
        // NULL → otherwise)
        sum(when(urgent, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  /** q15 shape: top supplier by period revenue — aggregate CTE reused for
    * both the ranking and the scalar max (exact decimal equality, no float
    * max boundary).
    */
  def q15TopSupplier(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitemDec(s, d)
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_extendedprice") * (one - col("l_discount"))).as("total_revenue"))
    val maxRev = rev.agg(max(col("total_revenue")).as("max_revenue"))
    Tables.supplier(s, d)
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .crossJoin(broadcast(maxRev))
      .filter(col("total_revenue") === col("max_revenue"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** q16 shape: supplier diversity per part group — distinct counts with
    * exclusion predicates (<> and NOT IN), using lineitem as the
    * part-supplier relation (this schema has no partsupp).
    */
  def q16SupplierDiversity(s: SparkSession, d: String): DataFrame = {
    val part = Tables.part(s, d)
      .filter(col("p_brand") =!= "Brand#1" &&
        !col("p_type").isin("PROMO", "ECONOMY") &&
        col("p_size").isin(1, 5, 10, 15, 20))
    Tables.lineitem(s, d)
      .join(part, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** q21 shape: suppliers who alone shipped late on multi-supplier orders —
    * the double-correlated EXISTS / NOT EXISTS, decorrelated into one
    * semi-join (another supplier participated) and one anti-join (no OTHER
    * supplier was late) over a shared late-flag dataframe computed once.
    */
  def q21WaitingSupplier(s: SparkSession, d: String): DataFrame = {
    val ordF = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = Tables.lineitem(s, d)
      .join(ordF, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAY")).as("late"))
    val l1 = li.filter(col("late"))
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
    val others = li.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
    val othersLate = li.filter(col("late"))
      .select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
    val candidates = l1
      .join(others, col("ok") === col("ok2") && col("sk") =!= col("sk2"), "left_semi")
      .join(othersLate, col("ok") === col("ok3") && col("sk") =!= col("sk3"), "left_anti")
    candidates
      .join(Tables.supplier(s, d), col("sk") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** Salted skew join in the gate: result-identical to the plain join (see
    * graft.operators.SkewJoin), verified against a plain-join oracle.
    */
  def qSkewSalted(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("nk", (col("user_id") % 25).cast("int"))
    val nation = Tables.nation(s, d)
    graft.operators.SkewJoin.salted(ev, nation, "nk", "n_nationkey", factor = 8)
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(Tables.Money)).as("sum_value"))
      .orderBy(col("n_name"))
  }

  /** q13 shape: customer order-count distribution — LEFT OUTER join keeping
    * zero-order customers, double aggregation.
    */
  def q13CustomerDist(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val ord = Tables.orders(s, d).filter(col("o_orderpriority") =!= "1-URGENT")
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** q17 shape: revenue from small-quantity lineitems (below 20% of the
    * part's average quantity). The correlated `avg` is decorrelated into a
    * per-part aggregate, and the comparison is rewritten EXACTLY in
    * integers/decimals: q < 0.2·(sum/cnt) ⟺ 5·q·cnt < sum — no float
    * average whose last-ulp could flip boundary rows between engines.
    */
  def q17SmallQuantity(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitemDec(s, d)
    val partAvg = li.groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("l_quantity")).as("sumq"), count(lit(1)).as("cntq"))
    val part = Tables.part(s, d).filter(col("p_brand") === "Brand#1")
    li.join(part, col("l_partkey") === col("p_partkey"))
      .join(partAvg, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") * col("cntq") * 5 < col("sumq"))
      .agg(sum(col("l_extendedprice")).as("small_qty_revenue"),
        count(lit(1)).as("n_items"))
  }

  /** q19 shape: OR-of-ANDs predicate (brand × size × quantity bands) —
    * exercises disjunctive filter pushdown and constant folding.
    */
  def q19DisjunctivePredicate(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitemDec(s, d)
    val part = Tables.part(s, d)
    val cond =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
        col("l_quantity").between(20, 30))
    li.join(part, col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(sum(col("l_extendedprice") * (one - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** q22 shape: wealthy inactive customers — above-average balance (exact
    * integer-rewritten comparison, see q17) with no orders, per nation.
    */
  def q22WealthyInactive(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customerDec(s, d)
    val positive = cust.filter(col("c_acctbal") > 0)
      .agg(sum(col("c_acctbal")).as("sumbal"), count(lit(1)).as("cntbal"))
    // "inactive" = no orders since 2000-07 (an all-time anti-join yields
    // zero rows in this data — every wealthy customer has some order)
    val ord = Tables.orders(s, d).filter(col("o_orderdate") >= ts("2000-07-01"))
    cust.crossJoin(positive)
      .filter(col("c_acctbal") * col("cntbal") > col("sumbal"))
      .join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), sum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  /** Analytic window-function family: lag/lead, percent_rank, ntile,
    * first_value — one pass, one shuffle on the partition key, unique
    * tie-break ordering so every value is deterministic.
    */
  def qWindowAnalytics(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.ordersDec(s, d)
      .filter(col("o_custkey") <= 100)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        percent_rank().over(w).as("pct_rank"),
        ntile(4).over(w).as("quartile"),
        first(col("o_orderkey")).over(w).as("first_order"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Pivot: per-user event counts spread across event-type columns —
    * groupBy + pivot with explicit values (no extra distinct pass), missing
    * cells zero-filled.
    */
  def qPivotEvents(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0, types)
      .orderBy(col("user_id"))
  }

  /** rollup: account balance by region/nation with subtotals + grand total.
    * Grouping-null keys are coalesced to a sentinel so the sort order is
    * well-defined and null-ordering differences between engines are moot.
    */
  def qRollupBalance(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customerDec(s, d)
    val nation = Tables.nation(s, d)
    val region = Tables.region(s, d)
    // Two-phase: aggregate on the FULL grouping key first (≤ |region×nation|
    // rows), then rollup over that tiny intermediate. A direct rollup Expands
    // every base row 3× before the shuffle — a 3× row blowup that is pure
    // waste at scale since the fine-grained aggregate subsumes the coarser
    // grouping sets. Decimal sums re-summed exactly; cast back to the
    // single-phase sum type so the output schema is unchanged.
    val pre = cust
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(col("c_acctbal")).as("bal"), count(lit(1)).as("cnt"))
    pre.rollup(col("r_name"), col("n_name"))
      .agg(sum(col("bal")).cast(DecimalType(22, 2)).as("total_bal"),
        sum(col("cnt")).as("n_cust"))
      .select(
        coalesce(col("r_name"), lit("__ALL__")).as("region_name"),
        coalesce(col("n_name"), lit("__ALL__")).as("nation_name"),
        col("total_bal"), col("n_cust"))
      .orderBy(col("region_name"), col("nation_name"))
  }

  /** FULL OUTER join — the snapshot-reconciliation shape: customers'
    * order activity in 1996 vs 1997, categorized new/churned/retained.
    * The two aggregates arrive at the join already hash-partitioned on
    * the key (the groupBy exchanges are reused), so the full outer adds
    * no extra shuffle; `Seq("o_custkey")` join syntax coalesces the key
    * across sides exactly like SQL USING.
    */
  def qFullOuterReconcile(s: SparkSession, d: String): DataFrame = {
    def year(y: String) = Tables.ordersDec(s, d)
      .filter(col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp") &&
        col("o_orderdate") < lit(s"${y.toInt + 1}-01-01").cast("timestamp"))
    val y96 = year("1996").groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_1996"))
    val y97 = year("1997").groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_1997"))
    y96.join(y97, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        coalesce(col("n_1996"), lit(0L)).as("n_1996"),
        coalesce(col("n_1997"), lit(0L)).as("n_1997"),
        when(col("n_1996").isNull, lit("new"))
          .when(col("n_1997").isNull, lit("churned"))
          .otherwise(lit("retained")).as("status"))
      .orderBy(col("o_custkey"))
  }

  /** Explicit GROUPING SETS — the sets {(status),(priority),()} are NOT a
    * rollup or cube prefix chain, exercising the arbitrary-sets planner
    * path. Same two-phase shape as [[qCubeOrders]]: pre-aggregate on the
    * full key, expand only the tiny aggregate (the direct form Expands
    * every order row 3× before its shuffle).
    */
  def qGroupingSets(s: SparkSession, d: String): DataFrame = {
    val pre = Tables.ordersDec(s, d)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice")).as("price"))
    pre.groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(sum(col("cnt")).as("n_orders"),
        sum(col("price")).cast(DecimalType(22, 2)).as("total_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("__ALL__")).as("status"),
        coalesce(col("o_orderpriority"), lit("__ALL__")).as("priority"),
        col("n_orders"), col("total_price"))
      .orderBy(col("status"), col("priority"))
  }

  /** cube: order counts/value across status × priority with all subtotals.
    * Same two-phase shape as [[qRollupBalance]]: the direct cube Expands
    * every order 4× (grouping sets {s,p},{s},{p},{}) before the shuffle;
    * pre-aggregating on (status, priority) first shrinks the cubed input to
    * a handful of rows.
    */
  def qCubeOrders(s: SparkSession, d: String): DataFrame = {
    val pre = Tables.ordersDec(s, d)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice")).as("price"))
    pre.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(sum(col("cnt")).as("n_orders"),
        sum(col("price")).cast(DecimalType(22, 2)).as("total_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("__ALL__")).as("status"),
        coalesce(col("o_orderpriority"), lit("__ALL__")).as("priority"),
        col("n_orders"), col("total_price"))
      .orderBy(col("status"), col("priority"))
  }

  /** set operations: customers active in 1995 vs 1996 — INTERSECT and EXCEPT
    * branches tagged and unioned into one deterministic result.
    */
  def qSetOps(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
    def active(y0: String, y1: String) = ord
      .filter(col("o_orderdate") >= ts(y0) && col("o_orderdate") < ts(y1))
      .select(col("o_custkey"))
    val a = active("1995-01-01", "1996-01-01")
    val b = active("1996-01-01", "1997-01-01")
    a.intersect(b).withColumn("tag", lit("both"))
      .unionByName(a.except(b).withColumn("tag", lit("only_1995")))
      .unionByName(b.except(a).withColumn("tag", lit("only_1996")))
      .orderBy(col("tag"), col("o_custkey"))
  }

  /** distinct aggregates: exact distinct counts per group. */
  def qDistinctCounts(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("distinct_parts"),
        countDistinct(col("l_suppkey")).as("distinct_supps"),
        count(lit(1)).as("n_items"))
      .orderBy(col("l_returnflag"))
  }

  /** correlated-subquery shape: cheapest part(s) per type via window min —
    * aggregate-free decorrelation (one pass, no self-join).
    */
  def qMinCostPart(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("p_type"))
    Tables.part(s, d)
      .withColumn("min_price", min(col("p_retailprice")).over(w))
      .filter(col("p_retailprice") === col("min_price"))
      .select(col("p_type"), col("p_partkey"),
        col("p_retailprice").cast(Tables.Money).as("p_retailprice"))
      .orderBy(col("p_type"), col("p_partkey"))
  }

  /** scalar string-function family over customer (per-row, codegen'd). */
  def qStringFuncs(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d)
      .select(
        col("c_custkey"),
        upper(col("c_mktsegment")).as("seg_upper"),
        lower(col("c_name")).as("name_lower"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        length(col("c_name")).as("name_len"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("seg_name"),
        (col("c_custkey") % 7).as("bucket"),
        when(col("c_acctbal") < 0, "debt")
          .when(col("c_acctbal") < 5000, "low")
          .otherwise("high").as("bal_band"))
      .orderBy(col("c_custkey"))
  }

  /** date/time function family over orders: extract, truncate, diff. */
  def qDateFuncs(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .groupBy(
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_year"), col("o_month"))
  }

  // ---------------------------------------------------------------------
  // Oracle SQL (DuckDB dialect = ANSI; must match column names + ordering)
  // ---------------------------------------------------------------------

  private val mQty = "CAST(l_quantity AS DECIMAL(12,2))"
  private val mEp = "CAST(l_extendedprice AS DECIMAL(12,2))"
  private val mDisc = "CAST(l_discount AS DECIMAL(4,2))"
  private val mTax = "CAST(l_tax AS DECIMAL(4,2))"
  /** Semi join with a Bloom-filter runtime prefilter
    * ([[graft.operators.BloomFilterJoin]]): revenue of lineitems belonging
    * to urgent-priority orders. The ~20% build side summarizes to 2^20
    * bits; the probe-side `might_contain` filter sits BELOW the shuffle as
    * a narrow codegen'd predicate, so ~80% of the fact table never pays
    * shuffle I/O — the decisive join optimization when the probe is 100 TB
    * and the build's KEY SET fits a broadcastable sketch but the build
    * rows do not. The exact semi join above it removes false positives;
    * the result (and the oracle) is a plain EXISTS.
    */
  def qBloomSemiJoin(s: SparkSession, d: String): DataFrame = {
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val li = Tables.lineitemDec(s, d)
      .select(col("l_orderkey"), col("l_returnflag"),
        col("l_extendedprice"), col("l_discount"))
    graft.operators.BloomFilterJoin
      .semiJoin(li, urgent, "l_orderkey", "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice") * (one - col("l_discount"))).as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  private val oneR = "CAST(1.00 AS DECIMAL(4,2))"
  private val revenue = s"$mEp * ($oneR - $mDisc)"

  val oracle: Map[String, String] = Map(
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  sum($mQty) AS sum_qty,
         |  sum($mEp) AS sum_base_price,
         |  sum($revenue) AS sum_disc_price,
         |  sum($revenue * ($oneR + $mTax)) AS sum_charge,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping_priority" ->
      s"""SELECT l_orderkey, o_orderdate, sum($revenue) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-06-15'
         |  AND l_shipdate > TIMESTAMP '1998-06-15'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      s"""SELECT n_name, sum($revenue) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,

    "q6_forecast_revenue" ->
      s"""SELECT sum($mEp * $mDisc) AS revenue, count(*) AS n_items
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1997-01-01'
         |  AND l_discount >= 0.02 AND l_discount <= 0.06
         |  AND l_quantity < 24""".stripMargin,

    "q10_returned_items" ->
      s"""SELECT c_custkey, c_name, n_name, sum($revenue) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |GROUP BY c_custkey, c_name, n_name
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin,

    "q14_promo_share" ->
      s"""SELECT
         |  sum(CASE WHEN p_type = 'PROMO' THEN $revenue ELSE CAST(0 AS DECIMAL(12,2)) END) AS promo_revenue,
         |  sum($revenue) AS total_revenue,
         |  count(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |  AND l_shipdate < TIMESTAMP '1997-07-01'""".stripMargin,

    "q18_large_orders" ->
      s"""WITH big AS (
         |  SELECT l_orderkey, sum($mQty) AS sum_qty
         |  FROM lineitem GROUP BY l_orderkey
         |  HAVING sum($mQty) > 150)
         |SELECT c_custkey, c_name, o_orderkey,
         |  CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice, sum_qty
         |FROM big
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |ORDER BY sum_qty DESC, o_orderkey""".stripMargin,

    "q7_trade_volume" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
         |  sum($revenue) AS volume
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
         |GROUP BY 1, 2, 3
         |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q9_product_profit" ->
      s"""SELECT n_name, CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS o_year,
         |  p_type,
         |  sum($revenue - CAST(p_retailprice AS DECIMAL(12,2)) * $mQty) AS sum_profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY 1, 2, 3
         |ORDER BY n_name, o_year, p_type""".stripMargin,

    "q8_market_share" ->
      s"""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
         |  sum(CASE WHEN n2.n_name = 'NATION_1' THEN $revenue
         |      ELSE CAST(0 AS DECIMAL(12,2)) END) AS nation_volume,
         |  sum($revenue) AS total_volume
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |JOIN region ON n1.n_regionkey = r_regionkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |WHERE r_name = 'EUROPE' AND p_type = 'STANDARD'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1 ORDER BY o_year""".stripMargin,

    "q12_ship_priority" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |       THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,

    "q15_top_supplier" ->
      s"""WITH rev AS (SELECT l_suppkey, sum($revenue) AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1996-04-01'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM supplier JOIN rev ON s_suppkey = l_suppkey
         |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,

    "q16_supplier_diversity" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_type NOT IN ('PROMO', 'ECONOMY')
        |  AND p_size IN (1, 5, 10, 15, 20)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q21_waiting_supplier" ->
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin,

    "q_skew_salted" ->
      """SELECT n_name, count(*) AS n_events,
        |  sum(CAST(value AS DECIMAL(12,2))) AS sum_value
        |FROM events JOIN nation ON CAST(user_id % 25 AS INT) = n_nationkey
        |GROUP BY 1 ORDER BY n_name""".stripMargin,

    "q13_customer_dist" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q17_small_quantity" ->
      s"""WITH pa AS (SELECT l_partkey AS pk, sum($mQty) AS sumq,
         |              count(*) AS cntq
         |            FROM lineitem GROUP BY 1)
         |SELECT sum($mEp) AS small_qty_revenue, count(*) AS n_items
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN pa ON l_partkey = pk
         |WHERE p_brand = 'Brand#1'
         |  AND $mQty * cntq * 5 < sumq""".stripMargin,

    "q19_disjunctive_predicate" ->
      s"""SELECT sum($revenue) AS revenue, count(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
         |         AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
         |         AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
         |         AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q22_wealthy_inactive" ->
      """WITH pos AS (SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) AS sumbal,
        |               count(*) AS cntbal
        |             FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, count(*) AS numcust,
        |  sum(CAST(c_acctbal AS DECIMAL(12,2))) AS totacctbal
        |FROM customer, pos
        |WHERE CAST(c_acctbal AS DECIMAL(12,2)) * cntbal > sumbal
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-07-01')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    "q_window_analytics" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  lag(CAST(o_totalprice AS DECIMAL(12,2)), 1) OVER w AS prev_price,
        |  lead(CAST(o_totalprice AS DECIMAL(12,2)), 1) OVER w AS next_price,
        |  percent_rank() OVER w AS pct_rank,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  first_value(o_orderkey) OVER w AS first_order
        |FROM orders
        |WHERE o_custkey <= 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_pivot_events" ->
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_bloom_semi_join" ->
      s"""SELECT l_returnflag, count(*) AS n_items, sum($revenue) AS revenue
         |FROM lineitem
         |WHERE EXISTS (SELECT 1 FROM orders
         |              WHERE o_orderkey = l_orderkey
         |                AND o_orderpriority = '1-URGENT')
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,

    "q4_priority_semi" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_anti_customers" ->
      """SELECT c_nationkey, count(*) AS n_no_orders
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-01-01')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    "q_top_customers" ->
      """SELECT c_custkey, c_name,
        |  sum(CAST(o_totalprice AS DECIMAL(12,2))) AS total_spent,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY total_spent DESC, c_custkey
        |LIMIT 15""".stripMargin,

    "q_lateral_topk" ->
      """SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.cents
        |FROM customer c,
        |LATERAL (SELECT o_orderkey,
        |           CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |             AS cents
        |         FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY cents DESC, o_orderkey LIMIT 2) t
        |ORDER BY c.c_custkey, cents DESC, o_orderkey""".stripMargin,

    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice, rn
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        row_number() OVER (PARTITION BY o_custkey
        |          ORDER BY CAST(o_totalprice AS DECIMAL(12,2)) DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "q_window_running" ->
      s"""SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
         |  sum($revenue) OVER (PARTITION BY l_suppkey
         |    ORDER BY l_shipdate, l_orderkey, l_linenumber
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_revenue
         |FROM lineitem
         |WHERE l_suppkey <= 5
         |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin,

    "q_rollup_balance" ->
      """SELECT coalesce(r_name, '__ALL__') AS region_name,
        |  coalesce(n_name, '__ALL__') AS nation_name,
        |  sum(CAST(c_acctbal AS DECIMAL(12,2))) AS total_bal,
        |  count(*) AS n_cust
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region_name, nation_name""".stripMargin,

    "q_cube_orders" ->
      """SELECT coalesce(o_orderstatus, '__ALL__') AS status,
        |  coalesce(o_orderpriority, '__ALL__') AS priority,
        |  count(*) AS n_orders,
        |  sum(CAST(o_totalprice AS DECIMAL(12,2))) AS total_price
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    "q_window_range_frame" ->
      """WITH daily AS (SELECT l_suppkey, CAST(l_shipdate AS DATE) AS day,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS day_rev
        |  FROM lineitem GROUP BY 1, 2),
        |n AS (SELECT *, date_diff('day', DATE '1970-01-01', day) AS day_num
        |      FROM daily)
        |SELECT l_suppkey, day, day_rev,
        |  sum(day_rev) OVER (PARTITION BY l_suppkey ORDER BY day_num
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS rev_7d
        |FROM n ORDER BY l_suppkey, day""".stripMargin,

    "q_full_outer_reconcile" ->
      """WITH y96 AS (SELECT o_custkey, count(*) AS n_1996
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1),
        |y97 AS (SELECT o_custkey, count(*) AS n_1997
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1)
        |SELECT o_custkey,
        |  coalesce(n_1996, 0) AS n_1996,
        |  coalesce(n_1997, 0) AS n_1997,
        |  CASE WHEN n_1996 IS NULL THEN 'new'
        |       WHEN n_1997 IS NULL THEN 'churned'
        |       ELSE 'retained' END AS status
        |FROM y96 FULL JOIN y97 USING (o_custkey)
        |ORDER BY o_custkey""".stripMargin,

    "q_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, '__ALL__') AS status,
        |  coalesce(o_orderpriority, '__ALL__') AS priority,
        |  count(*) AS n_orders,
        |  sum(CAST(o_totalprice AS DECIMAL(12,2))) AS total_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin,

    "q_set_ops" ->
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders
        |           WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |             AND o_orderdate < TIMESTAMP '1996-01-01'),
        |     b AS (SELECT DISTINCT o_custkey FROM orders
        |           WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |             AND o_orderdate < TIMESTAMP '1997-01-01')
        |SELECT o_custkey, 'both' AS tag FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT o_custkey, 'only_1995' AS tag FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT o_custkey, 'only_1996' AS tag FROM (SELECT o_custkey FROM b EXCEPT SELECT o_custkey FROM a)
        |ORDER BY tag, o_custkey""".stripMargin,

    "q_distinct_counts" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS distinct_parts,
        |  count(DISTINCT l_suppkey) AS distinct_supps,
        |  count(*) AS n_items
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_min_cost_part" ->
      """SELECT p_type, p_partkey,
        |  CAST(p_retailprice AS DECIMAL(12,2)) AS p_retailprice
        |FROM part p
        |WHERE p_retailprice = (SELECT min(p_retailprice) FROM part p2
        |                       WHERE p2.p_type = p.p_type)
        |ORDER BY p_type, p_partkey""".stripMargin,

    "q_string_funcs" ->
      """SELECT c_custkey,
        |  upper(c_mktsegment) AS seg_upper,
        |  lower(c_name) AS name_lower,
        |  substr(c_name, 1, 8) AS name_prefix,
        |  CAST(length(c_name) AS INT) AS name_len,
        |  concat_ws('|', c_mktsegment, c_name) AS seg_name,
        |  c_custkey % 7 AS bucket,
        |  CASE WHEN c_acctbal < 0 THEN 'debt'
        |       WHEN c_acctbal < 5000 THEN 'low'
        |       ELSE 'high' END AS bal_band
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,

    "q_date_funcs" ->
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
        |  CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS o_month,
        |  count(*) AS n_orders
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY o_year, o_month""".stripMargin
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q3_shipping_priority" -> (q3ShippingPriority _),
    "q5_region_revenue" -> (q5RegionRevenue _),
    "q6_forecast_revenue" -> (q6ForecastRevenue _),
    "q10_returned_items" -> (q10ReturnedItems _),
    "q14_promo_share" -> (q14PromoShare _),
    "q18_large_orders" -> (q18LargeOrders _),
    "q13_customer_dist" -> (q13CustomerDist _),
    "q7_trade_volume" -> (q7TradeVolume _),
    "q9_product_profit" -> (q9ProductProfit _),
    "q8_market_share" -> (q8MarketShare _),
    "q12_ship_priority" -> (q12ShipPriority _),
    "q_skew_salted" -> (qSkewSalted _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q16_supplier_diversity" -> (q16SupplierDiversity _),
    "q21_waiting_supplier" -> (q21WaitingSupplier _),
    "q17_small_quantity" -> (q17SmallQuantity _),
    "q19_disjunctive_predicate" -> (q19DisjunctivePredicate _),
    "q22_wealthy_inactive" -> (q22WealthyInactive _),
    "q4_priority_semi" -> (q4PrioritySemi _),
    "q_bloom_semi_join" -> (qBloomSemiJoin _),
    "q_anti_customers" -> (qAntiCustomers _),
    "q_top_customers" -> (qTopCustomers _),
    "q_window_rank" -> (qWindowRank _),
    "q_lateral_topk" -> (qLateralTopk _),
    "q_window_analytics" -> (qWindowAnalytics _),
    "q_pivot_events" -> (qPivotEvents _),
    "q_window_running" -> (qWindowRunning _),
    "q_rollup_balance" -> (qRollupBalance _),
    "q_cube_orders" -> (qCubeOrders _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_full_outer_reconcile" -> (qFullOuterReconcile _),
    "q_window_range_frame" -> (qWindowRangeFrame _),
    "q_set_ops" -> (qSetOps _),
    "q_distinct_counts" -> (qDistinctCounts _),
    "q_min_cost_part" -> (qMinCostPart _),
    "q_string_funcs" -> (qStringFuncs _),
    "q_date_funcs" -> (qDateFuncs _)
  )
}
