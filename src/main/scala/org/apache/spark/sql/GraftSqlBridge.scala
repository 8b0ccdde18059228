package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Column↔Expression conversion, so
  * graft's custom Catalyst expressions (e.g. `graft.functions.DotProduct`)
  * can be exposed through the public Column API, plus the direction and
  * null placement of a sort-order column (`graft.operators.RankOne`)
  * and the all-nullable schema a written frame reads back as
  * (`graft.cdc.VersionedState`).
  * This is the conventional pattern for third-party Catalyst extensions;
  * nothing else from the private surface is touched.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A sort-order column as (key, ascending, nulls first); a bare column
    * sorts ascending with nulls first, as in `orderBy`.
    */
  def sortKey(c: Column): (Column, Boolean, Boolean) = c.node match {
    case internal.SortOrder(key, dir, nulls, _) =>
      (new Column(key), dir == internal.SortOrder.Ascending,
        nulls == internal.SortOrder.NullsFirst)
    case _ => (c, true, true)
  }

  /** Wrap a (resolved) logical plan as a DataFrame — how the MV gates
    * return the ALREADY-REWRITTEN plan, so `graft.plans.MvRewrite` can
    * be uninstalled at gate exit while the caller's terminal action
    * still executes the routed (MV-reading) plan.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `t` with every field nullable, nested ones included — the schema
    * Spark's file source reports for what was written as `t`.
    */
  def nullable(t: types.StructType): types.StructType = t.asNullable
}
