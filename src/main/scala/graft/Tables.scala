package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared table loaders + numeric helpers for the query inventory.
  *
  * Numeric determinism: aggregate money math is done in exact decimals
  * (source doubles carry two decimal digits — e.g. l_extendedprice /
  * l_discount in the driver testdata), then cast to double at the end.
  * Decimal sums are order-independent, so the Spark result is bit-for-bit
  * identical to the DuckDB oracle regardless of partitioning / shuffle
  * order — a plain double sum would differ in the last ulp.
  */
object Tables {
  /** The memoized relation for table `name` under `dir` ([[Memo.relation]]). */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Memo.relation(spark, s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  /** events.ts has varied by generator vintage: TIMESTAMP(NANOS) parquet
    * (Spark 4 rejects it; with spark.sql.legacy.parquet.nanosAsLong=true,
    * set by our sessions, it arrives as LongType nanos) and, more
    * recently, TIMESTAMP_NTZ(µs) (isAdjustedToUTC=false). Normalize both
    * to session-tz TIMESTAMP so every events query sees one type:
    * LongType nanos → timestamp_micros (truncation, matching DuckDB's
    * ns→µs cast); TIMESTAMP_NTZ → cast to TIMESTAMP (session tz is UTC
    * everywhere in this engine, so the instant is unchanged — and
    * functions like unix_micros() only accept TIMESTAMP).
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventsTs(t(s, d, "events"))

  /** Shared by the batch loader above and the streaming file source
    * ([[graft.streaming.StreamingOps.readEventStream]]) so both see the
    * identical TIMESTAMP regardless of parquet vintage.
    */
  def normalizeEventsTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** Exact 2-decimal money value (prices, balances, discounts, taxes). */
  def dec2(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Exact 6-decimal value (event values etc.). */
  def dec6(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Order-independent exact sum of a 2-decimal double column → double. */
  def dsum(c: Column): Column = sum(dec2(c)).cast("double")

  /** Deterministic mean: exact decimal sum / count, divided as doubles. */
  def davg(c: Column): Column = sum(dec2(c)).cast("double") / count(lit(1))
}
