package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Scale notes (100 TB design): every loader is a plain parquet scan, so
  * Catalyst predicate pushdown / column pruning applies unchanged on a real
  * cluster where these paths are directory trees of many files. Money
  * columns are stored as 2-decimal doubles; [[money]] casts them to
  * DECIMAL(12,2) so multi-row aggregates are exact and deterministic
  * regardless of partition/summation order — float sums are
  * order-dependent and would not reproduce across cluster topologies.
  */
object Tables {
  val Money: DecimalType = DecimalType(12, 2)
  /** Small-scale decimal for rates in [0,1] (discount, tax). */
  val Rate: DecimalType = DecimalType(4, 2)

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` arrives in whichever physical type the data generator
    * used — seen in the wild as parquet TIMESTAMP(NANOS) (which Spark 4
    * refuses to read as a timestamp) and as TIMESTAMP(MICROS) without the
    * UTC-adjust flag (read as TIMESTAMP_NTZ). Normalize both to the
    * session-zone TIMESTAMP the rest of the engine (and the UTC-pinned
    * verify/bench sessions) assume:
    *  - int64 nanos (legacy conf): exact integer division (`div`, not
    *    `/` — 1.7e18 ns exceeds double precision) to µs, matching engines
    *    that truncate ns → µs on read;
    *  - TIMESTAMP_NTZ: cast to TIMESTAMP, value-preserving under the
    *    UTC session zone both runner mains pin.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw // already session-zone TIMESTAMP
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Lineitem with money/rate columns cast to exact decimals. The cast sits
    * directly above the scan so column pruning and filter pushdown on the
    * untouched columns still reach parquet.
    */
  def lineitemDec(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .withColumn("l_quantity", col("l_quantity").cast(Money))
      .withColumn("l_extendedprice", col("l_extendedprice").cast(Money))
      .withColumn("l_discount", col("l_discount").cast(Rate))
      .withColumn("l_tax", col("l_tax").cast(Rate))

  def ordersDec(s: SparkSession, d: String): DataFrame =
    orders(s, d).withColumn("o_totalprice", col("o_totalprice").cast(Money))

  def customerDec(s: SparkSession, d: String): DataFrame =
    customer(s, d).withColumn("c_acctbal", col("c_acctbal").cast(Money))
}
