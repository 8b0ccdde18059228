package graft.queries

import graft.Tables
import graft.operators.RankOne
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize.Ops

/** Graph analytics over a relationally-derived graph: fixed-iteration
  * PageRank on the customer↔supplier trade graph (an edge wherever a
  * customer's order includes a supplier's lineitem). Complements the
  * connected-components operator in [[Dedup.qDedupClusters]] with the
  * other classic iterative-propagation shape.
  *
  * Determinism: all rank arithmetic is scaled-integer floor division
  * (×10^12), so results are independent of summation order, partitioning,
  * and engine — float PageRank would differ in the last bits everywhere.
  * The fixed iteration count (no convergence test) keeps the oracle an
  * unrolled CTE chain.
  *
  * Scale shape: each iteration is one equi-join of ranks onto edges (both
  * sides hash-partitioned on the node key — the exchange is reused across
  * iterations) plus one aggregate with map-side partials. K iterations =
  * K joins + K aggregates, the same per-iteration cost profile GraphX/
  * Pregel pays; the node-count scalar joins in as a broadcast literal row.
  */
object Graph extends graft.GateFamily {

  /** Rank scale (10^12): keeps floor-division quotients exact in both
    * engines — every dividend stays ≤ ~10^14, far under the 2^52 bound
    * where floor(double-division) stops matching integer division.
    */
  val Scale = 1000000000000L
  val Iterations = 3
  /** Damping 0.85 expressed as an integer ratio. */
  val DampNum = 85L
  val DampDen = 100L

  private def idiv(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) = graft.text.TextOps.idiv(a, b)

  /** Symmetric customer↔supplier edge list with degrees; one row per
    * directed edge. Checkpointed: reused by every iteration.
    */
  def qPagerank(s: SparkSession, d: String): DataFrame = {
    // Node ids are LONGS in flight (customer 2k, supplier 2k+1): every
    // shuffle/sort/join in the iteration loop compares 8-byte keys, not
    // variable-length strings. The presentation strings ("c<id>"/"s<id>")
    // are built once in the final projection only.
    val pairs = tradePairs(s, d)
    // pre-partition on the join key BEFORE the checkpoint: localCheckpoint
    // preserves partitioning, so every iteration's edges⋈ranks starts from
    // an already-hash-partitioned big side — no edges exchange in any
    // iteration (ReuseExchange would dedup them, but this removes even
    // the first, and pins the layout against AQE coalescing drift)
    val edges = pairs
      .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
      .repartition(col("a"))
      .stage()
    // checkpoint the degree table: r0 plus every iteration's base term and
    // every broadcast node-count subquery re-reads it — uncheckpointed,
    // each of those re-aggregates the full edge list (~8 passes)
    val deg = edges.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .stage()
    val nCnt = deg.agg(count(lit(1)).as("n"))
    // the teleport term and r0 are iteration-invariant — computed ONCE and
    // checkpointed (tiny: one row per node) instead of rebuilding the
    // deg × nCnt broadcast join inside every iteration
    val base = deg.crossJoin(broadcast(nCnt))
      .select(col("a"),
        idiv(lit(Scale), col("n")).as("r0"),
        idiv(lit((DampDen - DampNum) * Scale), col("n") * DampDen).as("tele"),
        col("deg"))
      .stage()
    var ranks = base.select(col("a"), col("r0").as("rank"), col("deg"))
    for (_ <- 1 to Iterations) {
      val contrib = edges.join(ranks, "a")
        .select(col("b").as("node"),
          idiv(col("rank") * DampNum, col("deg") * DampDen).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_sum"))
      ranks = base
        .join(contrib, col("a") === col("node"), "left")
        .select(col("a"),
          (col("tele") + coalesce(col("in_sum"), lit(0L))).as("rank"),
          col("deg"))
    }
    ranks.select(
      when(col("a") % 2 === 0, concat(lit("c"), shiftright(col("a"), 1)))
        .otherwise(concat(lit("s"), shiftright(col("a"), 1))).as("node"),
      col("rank").as("rank_scaled"), col("deg"))
      .orderBy(col("node"))
  }

  /** Minimum co-order support for a supplier↔supplier edge. Co-occurrence
    * graphs DENSIFY as the corpus grows (every frequent item pairs with
    * every other), and the standard control — exactly A-Priori's — is a
    * support threshold: an edge exists only when the pair co-occurs in
    * ≥ MinSupport orders. At sf0.1 this trims 453k raw pairs to 47.7k
    * edges; the triangle pass then runs in the sparse-graph regime.
    */
  val MinSupport = 5

  /** Support-thresholded supplier co-order edges, one row per a<b pair;
    * shared spine of [[qTriangleCount]] and [[qCommunityLp]]. The
    * per-order pair enumeration keys on the order id — blowup bounded
    * by order width (≤7 lineitems), never corpus size.
    */
  private def coOrderEdges(s: SparkSession, d: String): DataFrame =
    // shared by triangle counting and LPA: suite runs build the
    // self-join + support rollup once (QueryMemo.sharedInput), Verify
    // always recomputes
    QueryMemo.sharedInput("__coorder_edges", d) {
      val lo = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      lo.as("x").join(lo.as("y"),
          col("x.ok") === col("y.ok") && col("x.sk") < col("y.sk"))
        .groupBy(col("x.sk").as("a"), col("y.sk").as("b"))
        .agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= MinSupport)
        .select(col("a"), col("b"))
    }

  /** The customer↔supplier trade pair list (distinct, long-id-encoded)
    * shared by PageRank and k-core — the distinct over the
    * lineitem⋈orders join is those gates' priciest input shuffle, built
    * once per suite run ([[QueryMemo.sharedInput]]).
    */
  private def tradePairs(s: SparkSession, d: String): DataFrame =
    QueryMemo.sharedInput("__trade_pairs", d) {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2L).as("a"),
          (col("l_suppkey") * 2L + 1L).as("b"))
        .distinct()
    }

  /** Degree table (n, dg) of an undirected a<b edge list. */
  private[queries] def edgeDegrees(edges: DataFrame): DataFrame =
    edges.select(col("a").as("n"))
      .unionByName(edges.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))

  /** Degree-ordered orientation of an undirected a<b edge list:
    * (src, dst, ddg) with src the strictly (dg, id)-smaller endpoint
    * and ddg the destination's degree riding along so the wedge join
    * can order x before y without a third lookup. The skew bound this
    * buys: every oriented out-degree is O(√m) REGARDLESS of the degree
    * distribution (a node with out-degree k has k higher-ordered
    * neighbors, each of degree ≥ its own, so k(k+1) ≤ Σdeg = 2m) — a
    * celebrity hub's edges all point INTO it, so the hub contributes
    * zero wedges. Spec-pinned on a one-hub fixture in `GraphSkewSpec`.
    */
  private[queries] def orientByDegree(edges: DataFrame, deg: DataFrame)
      : DataFrame = {
    val lower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    edges
      .join(deg.select(col("n").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("dg").as("db")), "b")
      .select(when(lower, col("a")).otherwise(col("b")).as("src"),
        when(lower, col("b")).otherwise(col("a")).as("dst"),
        when(lower, col("db")).otherwise(col("da")).as("ddg"))
  }

  /** Each triangle's (u, x, y) witness, exactly once, at its
    * lowest-ordered vertex: wedges enumerate only at oriented
    * OUT-neighbors, closure probes the oriented edge set.
    */
  private[queries] def orientedTriangles(oriented: DataFrame): DataFrame = {
    val wedgeOrder = col("w1.ddg") < col("w2.ddg") ||
      (col("w1.ddg") === col("w2.ddg") && col("w1.dst") < col("w2.dst"))
    oriented.as("w1").join(oriented.as("w2"),
        col("w1.src") === col("w2.src") && wedgeOrder)
      // (x, y) is ordered exactly as the orientation orders it, so the
      // closing edge — if present — is the oriented row (x → y)
      .join(oriented.as("e3"),
        col("e3.src") === col("w1.dst") && col("e3.dst") === col("w2.dst"))
      .select(col("w1.src").as("u"), col("w1.dst").as("x"),
        col("w2.dst").as("y"))
  }

  /** Per-node TRIANGLE counts on the supplier co-order graph — the classic
    * clustering-coefficient / community-density primitive, in the
    * degree-ordered ORIENTATION formulation (Suri & Vassilvitskii, WWW'11;
    * Schank & Wagner's forward algorithm): orient every edge from its
    * lower-(degree, id) endpoint to the higher, enumerate wedges only at
    * each node's oriented OUT-neighbors, and close each wedge against the
    * oriented edge set. Every triangle is counted exactly once — at its
    * lowest-ordered vertex — and each node's credit is recovered by
    * exploding the (u, x, y) witness into its three members.
    *
    * Scale shape: the naive wedge count Σ deg(v)² explodes on skewed
    * graphs (one celebrity node = O(deg²) wedges); orientation bounds
    * every out-degree by O(√m), making the wedge join O(m^{3/2}) WORST
    * CASE — the skew-proof bound, independent of the degree distribution.
    * Every step is an equi-join or aggregate: per-order pair enumeration
    * keys on the order (blowup bounded by order width, ≤7 lineitems),
    * wedges key on the shared source, closure keys on (x, y). The explode
    * credit partially aggregates map-side onto the node-id domain.
    */
  def qTriangleCount(s: SparkSession, d: String): DataFrame = {
    // support-thresholded undirected edges, one row per a<b pair
    val edges = coOrderEdges(s, d)
      .stage() // feeds the degree rollup and the orientation join
    val deg = edgeDegrees(edges)
      .stage() // consumed by orientation (×2), dst annotation, and output
    val oriented = orientByDegree(edges, deg)
      .stage() // wedge sides w1/w2 AND the closing-edge probe e3
    val tri = orientedTriangles(oriented)
    val credit = tri
      .select(explode(array(col("u"), col("x"), col("y"))).as("m"))
      .groupBy(col("m")).agg(count(lit(1)).as("triangles"))
    Tables.supplier(s, d).select(col("s_suppkey"))
      .join(deg, col("s_suppkey") === col("n"), "left")
      .join(credit, col("s_suppkey") === col("m"), "left")
      .select(col("s_suppkey").as("supplier"),
        coalesce(col("dg"), lit(0L)).as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .orderBy(col("supplier"))
  }

  /** Synchronous label-propagation rounds for [[qCommunityLp]] — fixed
    * so the oracle unrolls to exactly K stages (the PageRank pattern;
    * LPA convergence is probabilistic in general, so production runs
    * fix a round budget anyway).
    */
  val LpRounds = 3

  /** One LPA round's neighbor-label HISTOGRAM: one row per
    * (node, neighbor-label). This — not the raw neighbor list — is the
    * adoption window's input, so per-node window work is O(distinct
    * neighbor labels) ≤ O(deg), and on a hub whose neighborhood has
    * converged it collapses to ONE row however large the degree — the
    * same histogram-shrinks-the-window skew bound the k-core h-operator
    * uses. The count itself partially aggregates map-side. Spec-pinned
    * on a one-hub fixture in `GraphSkewSpec`.
    */
  private[queries] def lpaHistogram(edges: DataFrame, labels: DataFrame)
      : DataFrame =
    edges.join(labels, edges("b") === labels("node"))
      .groupBy(col("a"), col("label")).agg(count(lit(1)).as("c"))

  /** The round's adoption: per node, the most frequent neighbor label,
    * smallest label on ties (the determinism pin) — the rank-1 row under
    * `(c DESC, label)`, total because the histogram is keyed on
    * (a, label). A [[RankOne]] fold: no per-round window sort.
    */
  private[queries] def lpaAdopt(freq: DataFrame): DataFrame =
    freq.groupBy(col("a"))
      .agg(RankOne.of(freq, col("label"), col("c").desc, col("label"))
        .as("label"))
      .select(col("a").as("node"), col("label"))

  /** COMMUNITY DETECTION via synchronous label propagation (Raghavan/
    * Albert/Kumara LPA) on the supplier co-order graph: every node
    * starts as its own label; each round every node adopts the MOST
    * FREQUENT label among its neighbors (ties → smallest label, which
    * makes the classically random-tie-break algorithm deterministic and
    * engine-exact). After K rounds, nodes sharing a label are a
    * community; sizes ride along. Completes the graph family:
    * PageRank = centrality, triangles = local density, components =
    * reachability, LPA = mesoscale structure.
    *
    * Scale shape: one round = one edge⋈label equi-join (edges
    * pre-partitioned on the probe key, the exchange reused across
    * rounds) + one (node, label)-keyed count with map-side partials +
    * one per-node argmax window over the label-frequency rows (O(deg)
    * per node, the same row set the count produced). K rounds = K such
    * passes — the Pregel cost profile, no step sees more than
    * O(edges) rows.
    */
  def qCommunityLp(s: SparkSession, d: String): DataFrame = {
    val e0 = coOrderEdges(s, d)
    val edges = e0.unionByName(
        e0.select(col("b").as("a"), col("a").as("b")))
      .repartition(col("a"))
      .stage() // every round's neighbor join re-reads it
    var labels = edges.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to LpRounds)
      labels = lpaAdopt(lpaHistogram(edges, labels))
    val fin = labels.stage() // sizes rollup + output join both read it
    val sizes = fin.groupBy(col("label").as("sz_label"))
      .agg(count(lit(1)).as("community_size"))
    fin.join(broadcast(sizes), col("label") === col("sz_label"))
      .select(col("node").as("supplier"), col("label").as("community"),
        col("community_size"))
      .orderBy(col("supplier"))
  }

  /** Rounds of h-operator refinement for [[qKcore]]. Each round can only
    * lower a node's value (monotone from degree toward coreness), and the
    * values are exact coreness once a round is a GLOBAL fixpoint — the
    * gate carries that fixpoint witness in every row's `converged`
    * column, so the output is honest about whether the core numbers are
    * proven or still upper bounds. Six rounds reach the fixpoint on the
    * trade graph at every gated SF (measured: 2 at sf0.001, 4 at sf0.01,
    * 6 at sf0.1); fixed rounds keep the oracle an unrolled CTE chain,
    * the same posture as PageRank/LPA.
    */
  val KcoreRounds = 6

  /** K-CORE decomposition of the customer↔supplier trade graph (the
    * PageRank spine — the co-order graph is support-complete at the
    * gated SFs, hence core-degenerate) via the H-OPERATOR iteration
    * (Lü et al., "The H-index of a network node", Nature Communications
    * 2016): start every node at its degree, then repeatedly replace each
    * node's value with the h-index of its neighbors' values — the
    * largest h such that ≥ h neighbors hold value ≥ h. The sequence
    * decreases monotonically and its fixpoint is exactly the node's
    * CORENESS (the largest k with the node inside the k-core) — the
    * standard dense-subgraph / spam-farm / community-seed primitive, and
    * in LLM-data terms the principled way to PRUNE a near-duplicate
    * similarity graph before clustering (low-coreness nodes are
    * peripheral; high cores are the dense duplicate blobs).
    *
    * Unlike the classic sequential peel (delete min-degree nodes one at a
    * time — inherently serial), the h-operator is a PER-NODE local update
    * from neighbor values only, so one round is one edge⋈value equi-join
    * plus a per-node window — embarrassingly parallel, the shape that
    * survives 1000 executors.
    *
    * Determinism: values are integers; the h-index `max(least(rn, v))`
    * over neighbors sorted by (v DESC, id) is order-exact in both
    * engines (ties in v permute rn only among equal v, leaving the
    * multiset of `least` terms unchanged — the id tiebreak pins the sort
    * anyway).
    *
    * Scale shape: edges are symmetrized, pre-partitioned ONCE on the
    * window/agg key and staged; every round joins the BROADCAST value
    * table into that layout, so no round exchanges the edge list —
    * zero in-loop shuffles of O(edges) data. The broadcast is O(nodes)
    * (two longs per node): justified on fact graphs where nodes ≪ edges
    * (here ~1000×); on a graph whose node table outgrows broadcast
    * (billions of nodes), flip the round's join to the hash-partitioned
    * form — one edge exchange per round, the pre-round-9 layout. Long
    * node ids in flight, label strings built only in the final
    * projection. A round's window partitions by node and sees only that
    * node's O(deg) neighbor rows; K rounds = K broadcast joins + K
    * windows, nothing ever materializes more than O(edges) rows.
    */
  def qKcore(s: SparkSession, d: String): DataFrame = {
    val pairs = tradePairs(s, d)
    val edges = pairs
      .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
      // pre-partition on a — the WINDOW/AGG key of every round: the
      // value side of each round's join is BROADCAST (O(nodes), ~1000×
      // smaller than the edge list on this fact graph), so the join
      // preserves this layout and NO round exchanges the edge list at
      // all — the per-round full-edge shuffle was the gate's dominant
      // cost (committed medians 6.61 → 3.48 s at sf0.1)
      .repartition(col("a"))
      .stage() // every round's neighbor join re-reads it
    val deg = edges.groupBy(col("a").as("n"))
      .agg(count(lit(1)).as("dg"))
      .stage() // h0 + the output join both read it
    // One h-operator round: broadcast the O(nodes) value table into the
    // a-partitioned edge scan (layout preserved → the window and agg run
    // exchange-free), per-node window, per-node max. Each round's value
    // table is STAGED so broadcast-building round r replays nothing —
    // without the per-round pin, building broadcast r would re-execute
    // rounds 1..r−1 (the O(K²) replay class).
    //
    // Delta iteration (round-8 verdict item #5) was BUILT AND MEASURED
    // this round and REJECTED: on this graph the changed set stays
    // near-corpus-sized through all K rounds (the fixpoint lands exactly
    // at round 6 at sf0.1 — the peel wave never dies early), so probing
    // only changed-neighbor nodes saved no round while its machinery
    // (per-round lineage barriers — the 3-references-per-round chain
    // otherwise grows exponentially — plus semi/anti/union passes and
    // lost in-loop partitioning) measured 31.9 s at sf0.1 vs 6.6 for the
    // straight chain. The broadcast-value layout is the win instead.
    // The round itself is the shared [[graft.operators.HOperator]]:
    // broadcast value table into the a-partitioned edge layout, h-index
    // folded over the per-node VALUE HISTOGRAM (replaces the full-edge
    // window sort with an exchange-free hash-agg; also the skew bound —
    // a hub's window input is its distinct neighbor-value count, not
    // its degree; see HOperatorSpec's power-law receipt).
    def round(hv: DataFrame): DataFrame =
      graft.operators.HOperator.round(edges, hv)
    var hv = deg.select(col("n"), col("dg").as("h"))
    for (_ <- 1 to KcoreRounds - 1) hv = round(hv).stage()
    // h_{K−1} is already pinned by the loop's per-round stage: the final
    // round and the convergence compare share the same cached frame
    val hPrev = hv
    val last = round(hPrev).stage() // compare + output both read it
    // `converged` is a GLOBAL fixpoint witness — the same value on every
    // row: true iff NO node changed in the last round. Only then is every
    // value provably the coreness (the h-operator's fixpoint theorem, Lü
    // 2016); a PER-NODE plateau is NOT a proof — a node on a long
    // low-degree path holds h two rounds running while the peel wave is
    // still hops away, so a per-node h_K = h_{K−1} flag would lie on
    // graphs deeper than the fixed rounds (review finding, round 8).
    val conv = last.join(
        hPrev.select(col("n").as("pn"), col("h").as("ph")),
        col("n") === col("pn"))
      .agg((sum(when(col("h") =!= col("ph"), 1L).otherwise(0L)) === 0L)
        .as("converged"))
    deg
      .join(last.select(col("n").as("ln"), col("h")), col("n") === col("ln"))
      .crossJoin(broadcast(conv))
      .select(
        when(col("n") % 2 === 0, concat(lit("c"), shiftright(col("n"), 1)))
          .otherwise(concat(lit("s"), shiftright(col("n"), 1))).as("node"),
        col("dg").as("degree"), col("h").as("core"), col("converged"))
      .orderBy(col("node"))
  }

  val oracle: Map[String, String] = Map(
    "q_kcore" -> {
      val rounds = (1 to KcoreRounds).map { k =>
        s"""h$k AS MATERIALIZED (SELECT a AS n,
           |  max(least(rn, vh)) AS h FROM (
           |    SELECT e.a, p.h AS vh, row_number() OVER (
           |      PARTITION BY e.a ORDER BY p.h DESC, e.b) AS rn
           |    FROM e JOIN h${k - 1} p ON e.b = p.n)
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS a,
         |    l_suppkey * 2 + 1 AS b
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS MATERIALIZED (SELECT a, b FROM e0
         |     UNION ALL SELECT b, a FROM e0),
         |deg AS MATERIALIZED (SELECT a AS n, count(*) AS dg
         |      FROM e GROUP BY 1),
         |h0 AS (SELECT n, dg AS h FROM deg),
         |$rounds
         |SELECT CASE WHEN n % 2 = 0 THEN 'c' || CAST(n // 2 AS VARCHAR)
         |            ELSE 's' || CAST(n // 2 AS VARCHAR) END AS node,
         |  CAST(deg.dg AS BIGINT) AS degree,
         |  CAST(hl.h AS BIGINT) AS core,
         |  (SELECT count(*) FROM h$KcoreRounds a
         |     JOIN h${KcoreRounds - 1} b USING (n)
         |     WHERE a.h <> b.h) = 0 AS converged
         |FROM deg JOIN h$KcoreRounds hl USING (n)
         |ORDER BY node""".stripMargin
    },
    "q_community_lp" -> {
      val rounds = (1 to LpRounds).map { k =>
        s"""l$k AS MATERIALIZED (SELECT a AS node, label FROM (
           |  SELECT e.a, l.label, count(*) AS c,
           |    row_number() OVER (PARTITION BY e.a
           |      ORDER BY count(*) DESC, l.label) AS rk
           |  FROM e JOIN l${k - 1} l ON e.b = l.node
           |  GROUP BY e.a, l.label)
           |WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH lo AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
         |            FROM lineitem),
         |e0 AS (SELECT a.sk AS a, b.sk AS b
         |       FROM lo a JOIN lo b ON a.ok = b.ok AND a.sk < b.sk
         |       GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
         |e AS MATERIALIZED (SELECT a, b FROM e0
         |     UNION ALL SELECT b, a FROM e0),
         |l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS label
         |                    FROM e),
         |$rounds,
         |sz AS (SELECT label, CAST(count(*) AS BIGINT) AS community_size
         |       FROM l$LpRounds GROUP BY 1)
         |SELECT l.node AS supplier, l.label AS community,
         |  sz.community_size
         |FROM l$LpRounds l JOIN sz USING (label)
         |ORDER BY supplier""".stripMargin
    },
    "q_triangle_count" ->
      s"""WITH lo AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
         |            FROM lineitem),
         |e AS (SELECT a.sk AS a, b.sk AS b
         |      FROM lo a JOIN lo b ON a.ok = b.ok AND a.sk < b.sk
         |      GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
         |deg AS (SELECT n, count(*) AS dg
         |        FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e)
         |        GROUP BY 1),
         |o AS (SELECT CASE WHEN da.dg < db.dg
         |               OR (da.dg = db.dg AND e.a < e.b)
         |             THEN e.a ELSE e.b END AS src,
         |             CASE WHEN da.dg < db.dg
         |               OR (da.dg = db.dg AND e.a < e.b)
         |             THEN e.b ELSE e.a END AS dst
         |      FROM e JOIN deg da ON da.n = e.a
         |             JOIN deg db ON db.n = e.b),
         |o2 AS (SELECT o.src, o.dst, d.dg AS ddg
         |       FROM o JOIN deg d ON d.n = o.dst),
         |tri AS (SELECT w1.src AS u, w1.dst AS x, w2.dst AS y
         |        FROM o2 w1 JOIN o2 w2 ON w1.src = w2.src
         |          AND (w1.ddg < w2.ddg
         |            OR (w1.ddg = w2.ddg AND w1.dst < w2.dst))
         |        JOIN o e3 ON e3.src = w1.dst AND e3.dst = w2.dst),
         |tc AS (SELECT n, count(*) AS triangles
         |       FROM (SELECT unnest([u, x, y]) AS n FROM tri) GROUP BY 1)
         |SELECT s.s_suppkey AS supplier,
         |  CAST(coalesce(deg.dg, 0) AS BIGINT) AS degree,
         |  CAST(coalesce(tc.triangles, 0) AS BIGINT) AS triangles
         |FROM supplier s LEFT JOIN deg ON deg.n = s.s_suppkey
         |  LEFT JOIN tc ON tc.n = s.s_suppkey
         |ORDER BY supplier""".stripMargin,
    "q_pagerank" -> {
      val iters = (1 to Iterations).map { k =>
        s"""c$k AS (SELECT e.b AS node,
           |  sum(r * $DampNum // (deg * $DampDen)) AS s
           |  FROM e JOIN r${k - 1} USING (a) GROUP BY 1),
           |r$k AS (SELECT deg.a,
           |  CAST(${(DampDen - DampNum) * Scale} // (n * $DampDen)
           |    + coalesce(s, 0) AS BIGINT) AS r, deg.deg, n
           |  FROM deg CROSS JOIN nn LEFT JOIN c$k ON deg.a = c$k.node)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT DISTINCT
         |    'c' || CAST(o_custkey AS VARCHAR) AS a,
         |    's' || CAST(l_suppkey AS VARCHAR) AS b
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
         |deg AS (SELECT a, count(*) AS deg FROM e GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM deg),
         |r0 AS (SELECT a, CAST($Scale // n AS BIGINT) AS r, deg, n
         |       FROM deg CROSS JOIN nn),
         |$iters
         |SELECT a AS node, r AS rank_scaled, deg
         |FROM r$Iterations ORDER BY node""".stripMargin
    }
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pagerank" -> (qPagerank _),
    "q_triangle_count" -> (qTriangleCount _),
    "q_community_lp" -> (qCommunityLp _),
    "q_kcore" -> (qKcore _)
  )
}
