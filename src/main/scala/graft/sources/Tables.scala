package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet table loader for the driver-provided testdata directories
  * (TESTDATA.md). Schemas are declared by the parquet footers; reads are
  * vectorized and column-pruned by Catalyst automatically.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def part(s: SparkSession, d: String): DataFrame     = apply(s, d, "part")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def nation(s: SparkSession, d: String): DataFrame   = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = apply(s, d, "region")

  /** events.parquet has shipped `ts` under two physical units across
    * testdata generations: INT64 TIMESTAMP(MICROS) (current), which
    * Spark's parquet reader maps straight to TimestampType, and INT64
    * TIMESTAMP(NANOS) (earlier), which it rejects by default
    * ([PARQUET_TYPE_ILLEGAL]). The loader is unit-robust: footer-inferred
    * native read when `ts` arrives as a real timestamp (any sub-second
    * unit — Spark normalizes ms/µs to internal micros), else the explicit
    * `ts BIGINT` schema reads the raw nanos and rebuilds microseconds —
    * without the session-wide `spark.sql.legacy.parquet.nanosAsLong`
    * mutation (a read should not flip conf for every later read in the
    * session). Both paths are lossless for the oracle
    * compare (DuckDB TIMESTAMP is micros).
    */
  private val eventsRaw = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def events(s: SparkSession, d: String): DataFrame = {
    val path = s"$d/events.parquet"
    // A tz-less parquet TIMESTAMP arrives as TimestampNTZType; cast it to
    // TimestampType so downstream unix_micros/window math sees one type
    // (session timezone is pinned UTC, so the cast is value-identity and
    // matches DuckDB's naive-timestamp oracle read).
    val native = scala.util.Try {
      val df = s.read.parquet(path)
      df.schema("ts").dataType match {
        case TimestampType    => df
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case other => sys.error(s"unexpected ts type $other")
      }
    }
    native.getOrElse(
      s.read.schema(eventsRaw).parquet(path)
        .withColumn("ts", timestamp_micros(expr("ts div 1000"))))
  }
  def documents(s: SparkSession, d: String): DataFrame =
    apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    apply(s, d, "embeddings")
}
