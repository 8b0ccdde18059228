package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DateType, DecimalType, DoubleType, TimestampType}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Output convention at the API boundary: aggregates are computed in exact
    * DECIMAL (order-independent, cluster-reproducible — see Relational) and
    * presented as DOUBLE; DATE columns as TIMESTAMP. Both engines then yield
    * the identical float64/datetime64 pandas representation — the correctness
    * gate compares cell string reprs, where Decimal "188.00" ≠ float "188.0"
    * even though the values are equal. The cast is the last Project in the
    * plan; everything below it stays exact decimal.
    */
  private def presentation(df: DataFrame): DataFrame = {
    val needsCast = df.schema.fields.exists(f =>
      f.dataType.isInstanceOf[DecimalType] || f.dataType == DateType)
    if (!needsCast) df
    else {
      val cols: Array[Column] = df.schema.fields.map { f =>
        f.dataType match {
          case _: DecimalType => col(f.name).cast(DoubleType).as(f.name)
          case DateType       => col(f.name).cast(TimestampType).as(f.name)
          case _              => col(f.name)
        }
      }
      df.select(cols.toIndexedSeq: _*)
    }
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.flatMap(_.queries).toMap.map { case (name, fn) =>
      name -> ((s: SparkSession, d: String) => presentation(fn(s, d)))
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = families.flatMap(_.oracle).toMap

  private def families: Seq[GateFamily] = {
    import graft.queries._
    Seq(Relational, Cdc, TextAnalysis, Dedup, Similarity, Events, Media,
      Approx, Profiling, Curation, Linkage, Graph, Retrieval, Layout,
      Recursive, Physical, Adaptive)
  }
}

/** One family of gates in `graft.queries`: its gates and their oracle SQL. */
private[graft] trait GateFamily {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}
