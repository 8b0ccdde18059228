package graft.queries

import graft.Tables
import graft.operators.GlobalRank
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout planning operators — the pass that decides HOW 100 TB gets
  * written so later scans can prune: multi-dimensional clustering keys
  * (Z-order) and equi-depth range boundaries (the split points a
  * range-partitioned write or a secondary index would use).
  */
object Layout extends graft.GateFamily {

  /** Bits per dimension interleaved into the Z-value. */
  val ZBits = 16

  /** Z-order (Morton) key of (x, y): bit i of x lands at position 2i, bit
    * i of y at 2i+1, so sorting by the key interleaves both dimensions —
    * rows close in Z are close in BOTH x and y, which is what lets a
    * min/max-pruned scan skip files for predicates on EITHER column. A
    * single-column sort clusters one dimension perfectly and scatters the
    * other; Z-order trades a little of each for pruning on both.
    *
    * One-loop codegen expression ([[graft.functions.ZOrder2]], also on the
    * SQL surface as `graft_zorder`); [[zvalueComposed]] is the equivalent
    * literal-shift fold it is bit-equality-tested against.
    */
  def zvalue(x: Column, y: Column): Column =
    graft.functions.LayoutFunctions.zorder(x, y, ZBits)

  /** Composable-form twin of [[zvalue]] (2×ZBits shift/mask terms). */
  def zvalueComposed(x: Column, y: Column): Column =
    (0 until ZBits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** The same interleave in ANSI SQL, generated term-for-term. */
  def zvalueSql(x: String, y: String): String =
    (0 until ZBits).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) | ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" | ")

  /** Width of the part price buckets fed into the Z-curve. */
  private val PriceBucket = 10L

  /** Z-order clustering key for `part` over (p_size, price bucket): the
    * layout key a 100 TB part catalog would be written under so scans
    * filtered on size OR price both prune. Output is the curve itself
    * (key per row), gate-checked term-exact against the SQL interleave.
    */
  def qZorderCurve(s: SparkSession, d: String): DataFrame = {
    val x = col("p_size").cast("long")
    val y = least(floor(col("p_retailprice") / PriceBucket).cast("long"),
      lit((1L << ZBits) - 1))
    Tables.part(s, d)
      .select(col("p_partkey"), x.as("x"), y.as("y"))
      .withColumn("zval", zvalue(col("x"), col("y")))
      .orderBy(col("zval"), col("p_partkey"))
  }

  /** Number of equi-depth buckets. */
  val EquidepthK = 16

  /** Exact equi-depth binning of order totals: bucket b holds ranks
    * (b·n/k, (b+1)·n/k] under the total order (cents, orderkey) — the
    * boundary computation behind range-partitioned writes, ntile-style
    * feature binning, and histogram-equalized sampling. Uses
    * [[graft.operators.GlobalRank]]: a plain `row_number()` window with
    * no PARTITION BY is a single-partition sort (the scale cliff); the
    * operator ranks via range-partitioned sort + partition-offset
    * arithmetic instead, all codegen, no single-task stage.
    */
  def qEquidepthBins(s: SparkSession, d: String): DataFrame = {
    val cents = (col("o_totalprice").cast(Tables.Money) * 100).cast("long")
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), cents.as("cents"))
    GlobalRank.withRank(base, Seq(col("cents"), col("o_orderkey")), "rn", "n")
      .withColumn("bucket", expr(s"((rn - 1) * $EquidepthK) div n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("cents")).as("lo_cents"),
        max(col("cents")).as("hi_cents"))
      .orderBy(col("bucket"))
  }

  /** Exact P1/P99 winsorization (outlier clipping) of order totals — the
    * feature-preprocessing pass that caps heavy tails before training
    * statistics. The clip bounds are the values at ranks ⌈n/100⌉ and
    * ⌈99n/100⌉ under the same GlobalRank total order (exact, not
    * approx-percentile: reproducible across engines and partitionings);
    * they reduce to ONE broadcast row, and the clip itself is a narrow
    * `least(greatest(...))` at scan speed. Output: per-priority sums of
    * the clipped values plus clip counts — all exact integers.
    */
  def qWinsorize(s: SparkSession, d: String): DataFrame = {
    val cents = (col("o_totalprice").cast(Tables.Money) * 100).cast("long")
    val base = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), cents.as("cents"))
    // no second checkpoint: withRank already pins the expensive sort; the
    // bounds pass only re-runs the cheap broadcast join above it
    val ranked = GlobalRank
      .withRank(base, Seq(col("cents"), col("o_orderkey")), "rn", "n")
    val bounds = ranked.agg(
      min(when(col("rn") === expr("(n + 99) div 100"), col("cents"))).as("lo"),
      min(when(col("rn") === expr("(99 * n + 99) div 100"), col("cents"))).as("hi"))
    ranked.crossJoin(broadcast(bounds))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(least(greatest(col("cents"), col("lo")), col("hi")))
          .cast("long").as("sum_winsorized_cents"),
        sum(when(col("cents") < col("lo"), 1L).otherwise(0L)).as("n_clipped_low"),
        sum(when(col("cents") > col("hi"), 1L).otherwise(0L)).as("n_clipped_high"))
      .orderBy(col("o_orderpriority"))
  }

  /** Shard count for the deterministic corpus shuffle. */
  val NShards = 8L

  /** Deterministic global shuffle + shard assignment — the
    * shuffle-then-shard pass a training pipeline runs before writing
    * fixed-count output shards: every document gets an md5-derived
    * pseudorandom position in a full corpus permutation, and shards are
    * dealt round-robin off that order (sizes exactly balanced ±1).
    * Reproducible anywhere: the permutation is a pure function of doc
    * ids — no rand(), no partitioning dependence. Scale shape: the
    * position is [[GlobalRank.withRank]] over the hash (range-partitioned
    * sort + broadcast offsets — no single-partition window), and the
    * shard arithmetic is narrow.
    */
  def qShuffleShard(s: SparkSession, d: String): DataFrame = {
    val key = graft.text.TextOps.hash56(
      concat(lit("shuf:"), col("doc_id").cast("string")))
    val base = Tables.documents(s, d)
      .select(col("doc_id"), key.as("shuffle_key"))
    GlobalRank
      .withRank(base, Seq(col("shuffle_key"), col("doc_id")), "shuffle_pos",
        "n_total")
      .withColumn("shard", (col("shuffle_pos") - 1) % NShards)
      .select(col("doc_id"), col("shuffle_key"), col("shuffle_pos"),
        col("shard"), col("n_total"))
      .orderBy(col("doc_id"))
  }

  val oracle: Map[String, String] = Map(
    "q_zorder_curve" ->
      s"""SELECT p_partkey, x, y, ${zvalueSql("x", "y")} AS zval
         |FROM (SELECT p_partkey, CAST(p_size AS BIGINT) AS x,
         |    least(CAST(floor(p_retailprice / $PriceBucket) AS BIGINT),
         |          ${(1L << ZBits) - 1}) AS y
         |  FROM part)
         |ORDER BY zval, p_partkey""".stripMargin,

    "q_winsorize" ->
      """WITH b AS (SELECT o_orderkey, o_orderpriority,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |r AS (SELECT *,
        |    row_number() OVER (ORDER BY cents, o_orderkey) AS rn,
        |    count(*) OVER () AS n
        |  FROM b),
        |bd AS (SELECT
        |    min(CASE WHEN rn = (n + 99) // 100 THEN cents END) AS lo,
        |    min(CASE WHEN rn = (99 * n + 99) // 100 THEN cents END) AS hi
        |  FROM r)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(least(greatest(cents, lo), hi)) AS BIGINT)
        |    AS sum_winsorized_cents,
        |  CAST(sum(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_low,
        |  CAST(sum(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_high
        |FROM r CROSS JOIN bd
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_equidepth_bins" ->
      s"""WITH b AS (SELECT o_orderkey,
         |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
         |      AS cents
         |  FROM orders),
         |r AS (SELECT *,
         |    row_number() OVER (ORDER BY cents, o_orderkey) AS rn,
         |    count(*) OVER () AS n
         |  FROM b)
         |SELECT CAST(((rn - 1) * $EquidepthK) // n AS BIGINT) AS bucket,
         |  count(*) AS n_rows, min(cents) AS lo_cents,
         |  max(cents) AS hi_cents
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_shuffle_shard" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST('0x'||substr(md5('shuf:' || CAST(doc_id AS VARCHAR)),1,14)
         |         AS BIGINT) AS shuffle_key
         |  FROM documents),
         |r AS (SELECT doc_id, shuffle_key,
         |        row_number() OVER (ORDER BY shuffle_key, doc_id)
         |          AS shuffle_pos,
         |        count(*) OVER () AS n_total
         |      FROM t)
         |SELECT doc_id, shuffle_key,
         |  CAST(shuffle_pos AS BIGINT) AS shuffle_pos,
         |  CAST((shuffle_pos - 1) % $NShards AS BIGINT) AS shard,
         |  CAST(n_total AS BIGINT) AS n_total
         |FROM r ORDER BY doc_id""".stripMargin
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_zorder_curve" -> (qZorderCurve _),
    "q_equidepth_bins" -> (qEquidepthBins _),
    "q_winsorize" -> (qWinsorize _),
    "q_shuffle_shard" -> (qShuffleShard _)
  )
}
