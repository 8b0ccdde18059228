package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize.Ops

/** Approximate aggregates — the sketch family a 100 TB pipeline uses when
  * exact distinct/percentile would shuffle the world: HyperLogLog++
  * (`approx_count_distinct`), GK quantile sketch (`percentile_approx`),
  * and frequent-items. Mergeable sketches ⇒ map-side partials, one tiny
  * shuffle, no global sort.
  *
  * Sketch OUTPUTS are algorithm-specific (DuckDB's HLL/GK use different
  * parameters), so the HLL/GK gate queries never emit the raw estimate.
  * Instead they emit exact-recomputable columns plus an in-plan
  * `within_bound` verdict: the sketch runs in the same aggregate as the
  * exact twin, the bound check folds the estimate into a boolean, and the
  * DuckDB oracle recomputes the exact columns and expects the verdict to
  * hold — a sketch that drifts outside its published error bound flips
  * the boolean and hash-mismatches the gate.
  */
object Approx extends graft.GateFamily {

  /** HLL++ relative standard deviations used below; verdict allows 5σ —
    * false-failure probability is negligible (<1e-6 per group) while a
    * broken sketch (off by ~2× at these cardinalities) still trips it.
    */
  private val RsdParts = 0.05
  private val RsdSupps = 0.01

  /** Per (group, key) pre-aggregate → per-group exact + HLL counts. Two
    * two-level aggregations beat ONE multi-distinct aggregate: two
    * distinct columns make Catalyst Expand every input row 3×, while the
    * two-level form map-side-combines each scan down to its distinct
    * (group, key) pairs before any shuffle (measured 3.9s → ~1.5s at
    * sf0.1 — and at 100 TB the Expand's 3× shuffle is the difference
    * between one pass and three). Running the HLL over the pre-distinct
    * frame is EXACT-identical to running it over the raw multiset:
    * sketch insertion is duplicate-insensitive.
    */
  private def distinctBoth(base: DataFrame, keyCol: String, rsd: Double,
      exactName: String, approxName: String, withRows: Boolean): DataFrame = {
    val pre = base
      .groupBy(col("l_returnflag"), col(keyCol))
      .agg(count(lit(1)).as("__c"))
    val aggs = Seq(
      approx_count_distinct(col(keyCol), rsd).as(approxName)) ++
      (if (withRows) Seq(sum(col("__c")).as("n_rows")) else Nil)
    pre.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as(exactName), aggs: _*)
  }

  def qApproxDistinct(s: SparkSession, d: String): DataFrame = {
    def verdict(approxCol: String, exactCol: String, rsd: Double) =
      abs(col(approxCol) - col(exactCol)) <=
        greatest(lit(1L), ceil(col(exactCol) * rsd * 5))
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_partkey"), col("l_suppkey"))
    val parts = distinctBoth(li, "l_partkey", RsdParts,
      "exact_parts", "approx_parts", withRows = true)
    val supps = distinctBoth(li, "l_suppkey", RsdSupps,
      "exact_supps", "approx_supps", withRows = false)
    parts.join(supps, Seq("l_returnflag")) // 3-row frames; AQE broadcasts
      .select(col("l_returnflag"), col("exact_parts"), col("exact_supps"),
        col("n_rows"),
        verdict("approx_parts", "exact_parts", RsdParts)
          .as("parts_within_bound"),
        verdict("approx_supps", "exact_supps", RsdSupps)
          .as("supps_within_bound"))
      .orderBy(col("l_returnflag"))
  }

  /** Percentile points: shared by the aggregate, the exploded-row labels
    * and the oracle so the three can never drift apart.
    */
  private val Pcts = Seq(0.5, 0.95, 0.99)
  private val GkAccuracy = 10000

  /** GK sketch percentiles with an in-plan rank-error audit. The sketch's
    * contract (SQL `percentile_approx(col, p, accuracy)`) is that the
    * returned value's exact rank is within n/accuracy of the target rank.
    * Pass 1 builds the 6-row (group, pct, estimate) frame; pass 2 scans
    * the corpus ONCE more, broadcast-joining the tiny frame, to count
    * rows strictly-below / at-or-below each estimate — the estimate's
    * exact rank interval. The verdict checks that interval against the
    * target rank ± tolerance, then the estimate itself is dropped so the
    * output is engine-reproducible.
    *
    * Scale shape: two corpus scans (agg + broadcast-join agg), no window,
    * no sort beyond the 6-row presentation ORDER BY.
    */
  def qApproxPercentiles(s: SparkSession, d: String): DataFrame = {
    val pctArray = array(Pcts.map(lit): _*)
    val li = Tables.lineitem(s, d)
      .select(col("l_linestatus"), col("l_extendedprice"))
    val est = li
      .groupBy(col("l_linestatus"))
      .agg(
        percentile_approx(col("l_extendedprice"),
          pctArray, lit(GkAccuracy)).as("price_pcts"),
        count(lit(1)).as("n_rows"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      .select(col("l_linestatus"), col("n_rows"),
        col("min_price"), col("max_price"),
        posexplode(col("price_pcts")).as(Seq("pct_idx", "est")))
      .withColumn("pct", element_at(pctArray, col("pct_idx") + 1))
      .drop("pct_idx")
    val ranked = li.join(broadcast(est), Seq("l_linestatus"))
      .groupBy(col("l_linestatus"), col("pct"), col("n_rows"),
        col("min_price"), col("max_price"), col("est"))
      .agg(
        sum(when(col("l_extendedprice") < col("est"), 1L).otherwise(0L))
          .as("rank_lt"),
        sum(when(col("l_extendedprice") <= col("est"), 1L).otherwise(0L))
          .as("rank_le"))
    // target rank ±(n/accuracy + 1): +1 absorbs floor-vs-ceil ambiguity
    // in the target-rank definition; the estimate's exact rank occupies
    // the tie interval [rank_lt+1, rank_le], so the verdict is interval
    // intersection, robust to duplicated values.
    val tol = ceil(col("n_rows").cast("double") / GkAccuracy) + lit(1L)
    val target = ceil(col("pct") * col("n_rows"))
    ranked
      .select(col("l_linestatus"), col("pct"),
        col("min_price"), col("max_price"), col("n_rows"),
        ((col("rank_lt") + 1 <= target + tol) &&
          (col("rank_le") >= target - tol)).as("within_bound"))
      .orderBy(col("l_linestatus"), col("pct"))
  }

  /** Mergeable-sketch ROLLUP — the pattern that makes sketches matter at
    * 100 TB: per-(returnflag, linestatus) HLL sketches (DataSketches
    * binary, `hll_sketch_agg`) are the persisted "daily sketch table";
    * the per-returnflag distinct-count then comes from UNIONING those
    * sketches (`hll_union_agg`) WITHOUT rescanning the base data — the
    * daily→monthly rollup a warehouse runs on sketch columns. The gate
    * emits exact-recomputable columns plus the in-plan accuracy verdict
    * (merged-sketch estimate vs a two-level exact distinct), so the
    * whole build→persist→merge→estimate path sits inside the hash gate.
    *
    * lgConfigK=12 → rsd ≈ 1.04/√4096 ≈ 1.6%; the verdict allows 5σ.
    */
  private val HllLgK = 12
  private val HllRsd = 1.04 / math.sqrt((1 << HllLgK).toDouble)

  def qSketchRollup(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_partkey"))
    // stage 1: the persisted fine-grained sketch table (one binary
    // sketch per group — this is what a pipeline would write to parquet)
    val sketchTable = li
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(hll_sketch_agg(col("l_partkey"), lit(HllLgK)).as("sk"))
    // stage 2: rollup by sketch union — no base-table rescan
    val rolled = sketchTable
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_groups"),
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(true))).as("approx_parts"))
    // exact twin for the verdict: distinct pairs then a per-group count
    // (same two-level shape as distinctBoth, minus the unused columns)
    val exact = li.select(col("l_returnflag"), col("l_partkey")).distinct()
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("exact_parts"))
    rolled.join(exact, Seq("l_returnflag")) // 3-row frames
      .select(col("l_returnflag"), col("exact_parts"), col("n_groups"),
        (abs(col("approx_parts") - col("exact_parts")) <=
          greatest(lit(1L), ceil(col("exact_parts") * HllRsd * 5)))
          .as("within_bound"))
      .orderBy(col("l_returnflag"))
  }

  /** Count-min sketch geometry: R independent md5-derived hash rows over
    * W buckets. Deterministic hashing makes the WHOLE sketch reproducible
    * in any engine — unlike the built-in HLL/GK sketches above, this one
    * carries a full DuckDB oracle.
    */
  val CmsRows = 4
  val CmsWidth = 1024

  private def cmsBucket(j: Int, key: org.apache.spark.sql.Column) = {
    // md5 yields 128 bits — rows 2j and 2j+1 take independent 56-bit
    // slices (hex chars 1-14 / 15-28) of ONE digest, so R rows cost
    // ⌈R/2⌉ md5 calls per input row (digest slicing; measured neutral at
    // sf0.1 where explode+agg dominates, but halves the hash budget that
    // scales with corpus size)
    val slice = substring(md5(concat(lit(s"cms${j / 2}:"), key)),
      1 + (j % 2) * 14, 14)
    pmod(conv(slice, 16, 10).cast("long"), lit(CmsWidth.toLong))
  }

  /** Heavy hitters via count-min sketch: build the R×W counter table (one
    * tiny aggregate — the sketch is mergeable, so partials combine
    * map-side exactly like production CMS), estimate every candidate key
    * as min over its R counters, emit the top 10 with the exact count
    * alongside (est ≥ exact always; equality when no collisions).
    *
    * Scale shape: the sketch is O(R·W) regardless of input size; the
    * estimate join probes it with R broadcast lookups per DISTINCT key,
    * not per row. The exact-count column is for the gate's accuracy
    * audit — a production pipeline would drop it (that's the point of
    * the sketch).
    */
  def qCmsTopk(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_partkey"))
    // ONE corpus scan: CMS over a multiset == weighted CMS over distinct
    // keys, so hash per DISTINCT key (≈20k md5s at sf0.1) instead of per
    // row (600k) and build the R×W counter table from the exact-count
    // frame — which the probe side needs anyway. Checkpointed: cells +
    // probes both consume it.
    val exact = li.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("exact_cnt"))
      .stage()
    val cells = exact.select(col("exact_cnt"), posexplode(array(
      (0 until CmsRows).map(j => cmsBucket(j, col("l_partkey"))): _*))
      .as(Seq("j", "bucket")))
      .groupBy(col("j"), col("bucket"))
      .agg(sum(col("exact_cnt")).as("cnt"))
    val probes = exact.select(col("l_partkey"), col("exact_cnt"),
      posexplode(array(
        (0 until CmsRows).map(j => cmsBucket(j, col("l_partkey"))): _*))
        .as(Seq("j", "bucket")))
    probes.join(broadcast(cells), Seq("j", "bucket"))
      .groupBy(col("l_partkey"), col("exact_cnt"))
      .agg(min(col("cnt")).as("cms_est"))
      .orderBy(col("cms_est").desc, col("l_partkey"))
      .limit(10)
      .select(col("l_partkey"), col("cms_est"), col("exact_cnt"))
  }

  /** Deterministic-subsample percentiles: 1/[[SampleMod]] of the rows
    * chosen by md5 hash of the unique line key, exact rank-percentiles
    * over the subsample. The third approximate-quantile path beside the
    * GK sketch ([[qApproxPercentiles]]) — and the only one that is
    * engine-reproducible, so unlike GK/HLL it carries a full DuckDB
    * hash-gate. Accuracy is the standard sampling bound (±O(1/√m) in
    * rank); determinism makes the estimate auditable: any engine, any
    * partitioning, same answer.
    *
    * Scale shape: the hash filter is a narrow scan predicate (1/16 of
    * rows survive); the rank window runs per group over the SAMPLE only.
    * Target index ⌈m·p/100⌉ in pure integer arithmetic.
    */
  val SampleMod = 16L
  private val PctPoints = Seq(50, 95, 99)

  def qSampledPercentiles(s: SparkSession, d: String): DataFrame = {
    import graft.text.TextOps
    val keyHash = TextOps.hash56(concat(lit("qs:"), col("l_orderkey"),
      lit(":"), col("l_linenumber")))
    val sample = Tables.lineitem(s, d)
      .filter(pmod(keyHash, lit(SampleMod)) === 0)
      .select(col("l_linestatus"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"))
    val w = Window.partitionBy(col("l_linestatus"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val ranked = sample
      .withColumn("rn", row_number().over(w))
      .withColumn("m", count(lit(1)).over(Window.partitionBy(col("l_linestatus"))))
    val pts = explode(array(PctPoints.map(lit): _*)).as("pct")
    ranked
      .select(col("l_linestatus"), col("l_extendedprice"),
        col("rn"), col("m"), pts)
      // ⌈m·pct/100⌉ = (m·pct + 99) div 100, exact integers
      .filter(col("rn") === floor((col("m") * col("pct") + 99L) / 100L).cast("long"))
      .select(col("l_linestatus"), col("pct").cast("long").as("pct"),
        col("l_extendedprice").as("price_pct"), col("m").as("n_sample"))
      .orderBy(col("l_linestatus"), col("pct"))
  }

  val oracle: Map[String, String] = Map(
    "q_sampled_percentiles" -> {
      val pcts = PctPoints.mkString(", ")
      s"""WITH sm AS (SELECT l_linestatus, l_extendedprice,
         |    l_orderkey, l_linenumber
         |  FROM lineitem
         |  WHERE CAST('0x'||substr(md5('qs:'||CAST(l_orderkey AS VARCHAR)
         |      ||':'||CAST(l_linenumber AS VARCHAR)),1,14) AS BIGINT)
         |    % $SampleMod = 0),
         |r AS (SELECT l_linestatus, l_extendedprice,
         |    row_number() OVER (PARTITION BY l_linestatus
         |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
         |    count(*) OVER (PARTITION BY l_linestatus) AS m
         |  FROM sm),
         |p AS (SELECT * FROM r CROSS JOIN (SELECT unnest([$pcts]) AS pct))
         |SELECT l_linestatus, CAST(pct AS BIGINT) AS pct,
         |  l_extendedprice AS price_pct, CAST(m AS BIGINT) AS n_sample
         |FROM p WHERE rn = (m * pct + 99) // 100
         |ORDER BY l_linestatus, pct""".stripMargin
    },
    // HLL/GK estimates never reach the output — the oracle recomputes the
    // exact columns and expects the in-plan accuracy verdicts to hold.
    "q_approx_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS exact_supps,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  TRUE AS parts_within_bound,
        |  TRUE AS supps_within_bound
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_sketch_rollup" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n_groups,
        |  TRUE AS within_bound
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_approx_percentiles" -> {
      val pcts = Pcts.mkString(", ")
      s"""WITH g AS (SELECT l_linestatus,
         |    min(l_extendedprice) AS min_price,
         |    max(l_extendedprice) AS max_price,
         |    CAST(count(*) AS BIGINT) AS n_rows
         |  FROM lineitem GROUP BY 1)
         |SELECT l_linestatus, CAST(pct AS DOUBLE) AS pct,
         |  min_price, max_price, n_rows, TRUE AS within_bound
         |FROM g CROSS JOIN (SELECT unnest([$pcts]) AS pct)
         |ORDER BY l_linestatus, pct""".stripMargin
    },
    "q_cms_topk" -> {
      val buckets = (0 until CmsRows).map { j =>
        s"CAST('0x'||substr(md5('cms${j / 2}:'||CAST(l_partkey AS VARCHAR)),${1 + (j % 2) * 14},14) AS BIGINT) % $CmsWidth"
      }
      s"""WITH base AS (SELECT l_partkey FROM lineitem),
         |exact AS (SELECT l_partkey, count(*) AS exact_cnt
         |          FROM base GROUP BY 1),
         |cells AS (
         |  ${(0 until CmsRows).map(j =>
              s"SELECT exact_cnt, $j AS j, ${buckets(j)} AS bucket FROM exact")
              .mkString("\n  UNION ALL\n  ")}),
         |sk AS (SELECT j, bucket, CAST(sum(exact_cnt) AS BIGINT) AS cnt
         |       FROM cells GROUP BY 1, 2),
         |probes AS (
         |  ${(0 until CmsRows).map(j =>
              s"SELECT l_partkey, exact_cnt, $j AS j, ${buckets(j)} AS bucket FROM exact")
              .mkString("\n  UNION ALL\n  ")}),
         |est AS (SELECT l_partkey, exact_cnt, min(cnt) AS cms_est
         |        FROM probes JOIN sk USING (j, bucket) GROUP BY 1, 2)
         |SELECT l_partkey, cms_est, exact_cnt
         |FROM est ORDER BY cms_est DESC, l_partkey LIMIT 10""".stripMargin
    })

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_approx_distinct" -> (qApproxDistinct _),
    "q_approx_percentiles" -> (qApproxPercentiles _),
    "q_sketch_rollup" -> (qSketchRollup _),
    "q_cms_topk" -> (qCmsTopk _),
    "q_sampled_percentiles" -> (qSampledPercentiles _)
  )
}
