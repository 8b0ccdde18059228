package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** The one rank-1 reduction: per group, the row that
  * `row_number() OVER (PARTITION BY … ORDER BY order) = 1` keeps, as a
  * `min_by`/`max_by` aggregate instead of a window (optimization guide
  * §2.3: it folds to one candidate per group on the map side, so the
  * exchange carries O(groups) rows; Spark 4.1 still plans a struct or
  * string payload as a SortAggregate).
  *
  * Callers state the order as ordinary sort-order columns, exactly as
  * the oracle's `ORDER BY` writes it (`col("c").desc, col("label")`; a
  * bare column is ascending, as in `orderBy`). The encoding is derived
  * here and nowhere else:
  *
  *  - the side: every non-integral key (string, timestamp, double, …)
  *    keeps its own direction, so they pick `min_by` (ASC) or `max_by`
  *    (DESC) and must agree; with none, the first key decides;
  *  - an integral key running the other way is negated (exact for every
  *    value but `MinValue`, whose negation fails loudly under ANSI);
  *  - struct comparison ranks a null field lowest, i.e. NULLS FIRST for
  *    `min_by` and NULLS LAST for `max_by`; a nullable key placed the
  *    other way gets an `isNull` field in front of it.
  *
  * The order should be total (end it on a unique key): a deterministic
  * recomputation — a replayed batch — must pick the same winner.
  */
private[graft] object RankOne {

  /** Per `keys` group, the first row of `df` under `order`, with `df`'s
    * columns in `df`'s order.
    */
  def apply(df: DataFrame, keys: Seq[String], order: Column*): DataFrame = {
    val rest = df.columns.filterNot(keys.contains).map(col).toSeq
    df.groupBy(keys.map(col): _*)
      .agg(of(df, struct(rest: _*), order: _*).as("__top"))
      .select(df.columns.map(c =>
        if (keys.contains(c)) col(c) else col("__top").getField(c).as(c))
        .toSeq: _*)
  }

  /** The aggregate yielding `value` of the group's first row of `df`
    * under `order` (`df` types the order's keys).
    */
  def of(df: DataFrame, value: Column, order: Column*): Column = {
    val sorts = order.map(GraftSqlBridge.sortKey)
    val keys = sorts.zip(df.select(sorts.map(_._1): _*).schema.fields)
    val fixed = keys.collect { case ((_, asc, _), f) if !Integral(f.dataType) =>
      (s"${f.name} ${if (asc) "ASC" else "DESC"}", asc) }
    require(fixed.map(_._2).distinct.size <= 1, "RankOne: no min/max fold " +
      "keeps these non-integral keys in their directions: " +
      fixed.map(_._1).mkString(", "))
    val asc = fixed.headOption.fold(sorts.head._2)(_._2)
    val by = struct(keys.flatMap { case ((k, keyAsc, nullsFirst), f) =>
      (if (f.nullable && nullsFirst != asc) Seq(k.isNull) else Nil) :+
        (if (keyAsc == asc) k else (-k).as("_n" + f.name.stripPrefix("_")))
    }: _*)
    if (asc) min_by(value, by) else max_by(value, by)
  }

  private val Integral: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType)
}
