package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Recursive (iterative-closure) queries through Spark 4.1's native
  * `WITH RECURSIVE` support — the Catalyst `UnionLoop` operator — over a
  * deterministic hierarchy derived from the customer table
  * (parent(id) = id div 2, i.e. a binary tree rooted at custkey 1).
  *
  * This is the one query shape in the engine that the DataFrame API
  * cannot express (it has no fixpoint combinator): hierarchy/BOM
  * traversal, org charts, category trees. Spark 4.1 executes it natively
  * — the plan contains a `UnionLoop` node that materializes each
  * iteration's frontier and unions the levels — so the implementation is
  * `spark.sql` over a registered view of the parquet scan, exactly the
  * Spark-first posture (the gate `require`s the loop operator is in the
  * optimized plan, so a silent non-recursive rewrite cannot pass).
  *
  * Scale shape at 100 TB: recursion depth is the HIERARCHY depth, not the
  * row count — log₂(n) for this balanced tree, and a bounded constant
  * (org levels, BOM levels) for real corpora. Each `UnionLoop` iteration
  * is one equi-join of the current frontier against the node table (hash
  * shuffle on the join key, frontier-sized — shrinking as chains
  * exhaust) plus a union append; the full closure is n·depth rows,
  * produced level-by-level and never held as one in-memory blob. Spark's
  * `spark.sql.cteRecursionLevelLimit` (100) and `cteRecursionRowLimit`
  * (10⁶ per the default; raise on a cluster) guard runaway recursion —
  * the closure here is ≤ 15k·14 ≈ 2·10⁵ rows at sf0.1. Determinism: all
  * arithmetic is integer (node weight = `c_nationkey`), so hashes are
  * partition- and engine-independent.
  *
  * Reference scope: the reference pipeline has no recursive operator
  * (its enrichment is per-record — processor.py:1-108); this family is
  * part of the driver-mandated relational layer beyond it.
  */
object Recursive extends graft.GateFamily {

  /** Node view: id (int; the testdata's custkeys are contiguous FROM 0,
    * so node 0 sits outside root 1's tree — the top-down BOM traversal
    * correctly excludes it, and the upward walks treat it as its own
    * depth-0 chain; a missing parent id just ends that chain, identically
    * in both engines) and an integer weight drawn from real data.
    */
  private def nodesView(s: SparkSession, d: String, view: String): Unit =
    Tables.customer(s, d)
      .select(col("c_custkey").cast("int").as("id"),
        col("c_nationkey").cast("int").as("w"))
      .createOrReplaceTempView(view)

  /** The optimized plan must contain the native recursion operator —
    * proves the query executed through `UnionLoop`, not some degenerate
    * rewrite that would silently change the complexity class.
    */
  private def requireUnionLoop(df: DataFrame, gate: String): DataFrame = {
    val plan = df.queryExecution.optimizedPlan.toString
    require(plan.contains("UnionLoop"),
      s"$gate: expected a UnionLoop (recursive CTE) in the optimized plan; got:\n$plan")
    df
  }

  /** Ancestor-path closure: for every node, walk parent links to the
    * root, returning the path depth and the integer path-weight sum
    * (self + all ancestors). The anchor is the node itself at depth 0;
    * each recursion step joins the frontier's current ancestor to its
    * parent (`anc div 2`), stopping at the root (`anc > 1` guard).
    */
  def qRecursivePath(s: SparkSession, d: String): DataFrame = {
    nodesView(s, d, "graft_rec_nodes_up")
    requireUnionLoop(s.sql(
      """WITH RECURSIVE up AS (
        |  SELECT id, id AS anc, 0 AS depth, w FROM graft_rec_nodes_up
        |  UNION ALL
        |  SELECT u.id, n.id AS anc, u.depth + 1, n.w
        |  FROM up u JOIN graft_rec_nodes_up n
        |    ON u.anc > 1 AND n.id = u.anc DIV 2
        |)
        |SELECT id, max(depth) AS depth,
        |  CAST(sum(w) AS BIGINT) AS path_w
        |FROM up GROUP BY id ORDER BY id""".stripMargin),
      "q_recursive_path")
  }

  /** Subtree rollup (the BOM-explosion shape): for every node, the
    * member count and weight sum of its whole subtree (descendants
    * including self). The closure expands downward — each step joins the
    * frontier's descendants to their children (`id div 2 = dsc`) — then
    * one aggregate rolls the (ancestor, descendant) pairs up.
    */
  def qRecursiveSubtree(s: SparkSession, d: String): DataFrame = {
    nodesView(s, d, "graft_rec_nodes_down")
    requireUnionLoop(s.sql(
      """WITH RECURSIVE down AS (
        |  SELECT id AS anc, id AS dsc, w FROM graft_rec_nodes_down
        |  UNION ALL
        |  SELECT t.anc, n.id AS dsc, n.w
        |  FROM down t JOIN graft_rec_nodes_down n
        |    ON n.id > 1 AND n.id DIV 2 = t.dsc
        |)
        |SELECT anc AS id, count(*) AS subtree_members,
        |  CAST(sum(w) AS BIGINT) AS subtree_w
        |FROM down GROUP BY anc ORDER BY id""".stripMargin),
      "q_recursive_subtree")
  }

  /** BOM quantity explosion: the third recursion mode — TOP-DOWN from
    * the root with a MULTIPLICATIVE accumulator and no final aggregate
    * (each node's row is emitted by the loop itself). Extended quantity
    * = product of per-node quantities along the root path — the classic
    * manufacturing "how many of part X does one end product need".
    * qty(id) = id % 5 + 1 keeps the product ≤ 5^14 < 2^63 at any gated
    * SF. Unlike the closure gates, output is exactly n rows (each node
    * has one parent), so the loop's per-level frontier IS the output.
    */
  def qRecursiveBom(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d)
      .select(col("c_custkey").cast("int").as("id"),
        (col("c_custkey") % 5 + 1).cast("long").as("qty"))
      .createOrReplaceTempView("graft_rec_nodes_bom")
    requireUnionLoop(s.sql(
      """WITH RECURSIVE bom AS (
        |  SELECT id, 0 AS lvl, qty AS ext_qty
        |  FROM graft_rec_nodes_bom WHERE id = 1
        |  UNION ALL
        |  SELECT n.id, b.lvl + 1, b.ext_qty * n.qty
        |  FROM bom b JOIN graft_rec_nodes_bom n
        |    ON n.id > 1 AND n.id DIV 2 = b.id
        |)
        |SELECT id, lvl, ext_qty FROM bom ORDER BY id""".stripMargin),
      "q_recursive_bom")
  }

  /** CYCLE-GUARDED traversal — the non-termination defense a real
    * hierarchy query needs (round-10 verdict stretch item): the three
    * closure gates all walk an acyclic tree, where `UnionLoop`'s
    * fixpoint terminates because the frontier exhausts; one cyclic edge
    * and the same query recurses until the engine's recursion limit
    * kills it. The standard defense is a PATH ACCUMULATOR: each row
    * carries the array of visited nodes and the step filters
    * `NOT array_contains(path, next)`, so a walk never re-enters a node
    * and the frontier provably exhausts (paths are simple; their count
    * is finite).
    *
    * The fixture makes both halves of the contract observable: nodes
    * 1–63 under the binary-tree child edges, PLUS a back edge 60→1 that
    * closes a cycle through the root (without the guard the walk
    * 1→…→60→1→… never terminates — the guard provably blocks exactly
    * it, since node 1 is on every path), and a cross edge 45→6 into a
    * DIFFERENT subtree that the guard must NOT block (6 is not on 45's
    * path), giving every node under 6 a second, longer path — so the
    * per-node path counts and depth sums prove the guard blocks cycles
    * and only cycles. DuckDB runs the identical guarded recursion
    * (list_append/list_contains), pinning the full path-set semantics.
    *
    * Scale shape: rows are (node, path) pairs — bounded by the SIMPLE
    * paths from the root, the quantity a reachability report over a
    * near-tree hierarchy (BOM with alternates, org chart with dotted
    * lines) actually enumerates; each iteration is a frontier-sized
    * equi-join, and the path array is depth-bounded. `spark.sql
    * .cteRecursionLevelLimit` (100) stays as the backstop, but the
    * guard — not the limit — is what ends this walk (depth ≤ 11 here;
    * hitting the limit raises, it does not silently truncate).
    */
  def qRecursiveCyclic(s: SparkSession, d: String): DataFrame = {
    val nodes = Tables.customer(s, d)
      .select(col("c_custkey").cast("int").as("id"))
      .filter(col("id").between(1, 63))
    nodes.filter(col("id") >= 2)
      .select(expr("id div 2").cast("int").as("parent"),
        col("id").as("child"))
      .unionByName(s.range(1).select(lit(60).as("parent"),
        lit(1).as("child"))) // back edge: closes a cycle through root 1
      .unionByName(s.range(1).select(lit(45).as("parent"),
        lit(6).as("child"))) // cross edge: a legal second path, no cycle
      .createOrReplaceTempView("graft_rec_edges_cyc")
    requireUnionLoop(s.sql(
      """WITH RECURSIVE walk AS (
        |  SELECT 1 AS node, array(1) AS path, 0 AS depth
        |  UNION ALL
        |  SELECT e.child AS node, array_append(w.path, e.child),
        |    w.depth + 1
        |  FROM walk w JOIN graft_rec_edges_cyc e ON e.parent = w.node
        |  WHERE NOT array_contains(w.path, e.child)
        |)
        |SELECT node, count(*) AS n_paths,
        |  max(depth) AS max_depth,
        |  CAST(sum(depth) AS BIGINT) AS depth_sum
        |FROM walk GROUP BY node ORDER BY node""".stripMargin),
      "q_recursive_cyclic")
  }

  val oracle: Map[String, String] = Map(
    // the oracle runs the SAME recursion in DuckDB's WITH RECURSIVE —
    // closure depth/weights are exact integers, so the hash pins the
    // full transitive-closure semantics (a frontier stopped early or
    // expanded past the root would shift every depth/path_w below it)
    "q_recursive_path" ->
      """WITH RECURSIVE nodes AS (
        |  SELECT CAST(c_custkey AS INT) AS id,
        |    CAST(c_nationkey AS INT) AS w FROM customer),
        |up AS (
        |  SELECT id, id AS anc, 0 AS depth, w FROM nodes
        |  UNION ALL
        |  SELECT u.id, n.id AS anc, u.depth + 1, n.w
        |  FROM up u JOIN nodes n ON u.anc > 1 AND n.id = u.anc // 2
        |)
        |SELECT id, max(depth) AS depth,
        |  CAST(sum(w) AS BIGINT) AS path_w
        |FROM up GROUP BY id ORDER BY id""".stripMargin,
    "q_recursive_subtree" ->
      """WITH RECURSIVE nodes AS (
        |  SELECT CAST(c_custkey AS INT) AS id,
        |    CAST(c_nationkey AS INT) AS w FROM customer),
        |down AS (
        |  SELECT id AS anc, id AS dsc, w FROM nodes
        |  UNION ALL
        |  SELECT t.anc, n.id AS dsc, n.w
        |  FROM down t JOIN nodes n ON n.id > 1 AND n.id // 2 = t.dsc
        |)
        |SELECT anc AS id, CAST(count(*) AS BIGINT) AS subtree_members,
        |  CAST(sum(w) AS BIGINT) AS subtree_w
        |FROM down GROUP BY anc ORDER BY id""".stripMargin,
    "q_recursive_bom" ->
      """WITH RECURSIVE nodes AS (
        |  SELECT CAST(c_custkey AS INT) AS id,
        |    CAST(c_custkey % 5 + 1 AS BIGINT) AS qty FROM customer),
        |bom AS (
        |  SELECT id, 0 AS lvl, qty AS ext_qty FROM nodes WHERE id = 1
        |  UNION ALL
        |  SELECT n.id, b.lvl + 1, b.ext_qty * n.qty
        |  FROM bom b JOIN nodes n ON n.id > 1 AND n.id // 2 = b.id
        |)
        |SELECT id, lvl, ext_qty FROM bom ORDER BY id""".stripMargin,
    // the identical guarded recursion — DuckDB's list_append /
    // list_contains are Spark's array_append / array_contains, so the
    // hash pins the full simple-path set: a missed cycle block loops
    // (the oracle would too — both engines enumerate the same paths or
    // neither terminates), a over-eager guard drops the 45→6 paths
    "q_recursive_cyclic" ->
      """WITH RECURSIVE nodes AS (
        |  SELECT CAST(c_custkey AS INT) AS id FROM customer
        |  WHERE c_custkey BETWEEN 1 AND 63),
        |edges AS (
        |  SELECT id // 2 AS parent, id AS child FROM nodes WHERE id >= 2
        |  UNION ALL SELECT 60, 1
        |  UNION ALL SELECT 45, 6),
        |walk AS (
        |  SELECT 1 AS node, [1] AS path, 0 AS depth
        |  UNION ALL
        |  SELECT e.child, list_append(w.path, e.child), w.depth + 1
        |  FROM walk w JOIN edges e ON e.parent = w.node
        |  WHERE NOT list_contains(w.path, e.child))
        |SELECT node, CAST(count(*) AS BIGINT) AS n_paths,
        |  max(depth) AS max_depth,
        |  CAST(sum(depth) AS BIGINT) AS depth_sum
        |FROM walk GROUP BY node ORDER BY node""".stripMargin
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_recursive_path" -> (qRecursivePath _),
    "q_recursive_subtree" -> (qRecursiveSubtree _),
    "q_recursive_bom" -> (qRecursiveBom _),
    "q_recursive_cyclic" -> (qRecursiveCyclic _)
  )
}
