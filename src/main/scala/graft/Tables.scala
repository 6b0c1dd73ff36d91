package graft

import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Parquet loaders for the TPC-H-ish star schema + LLM-pipeline tables
  * (see TESTDATA.md). All loaders return lazy DataFrames; Catalyst pushes
  * filters/projections into the parquet scan, so callers never pay for
  * columns they don't read — essential when `lineitem` is 100 TB.
  *
  * A load runs no Spark job: `Sources.readParquet` reads the schema
  * Spark would infer from the table's footer on the driver. It falls
  * back to Spark's inference job (and its errors) with `mergeSchema`
  * on, for a partitioned layout, with no data file, or if the footer
  * read throws.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Sources.readParquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** `events.ts` is written as parquet INT64 TIMESTAMP(NANOS); Spark's
    * vectorized reader rejects nanos unless they are read as raw longs
    * (`spark.sql.legacy.parquet.nanosAsLong`). Normalize to Spark's
    * native microsecond TimestampType with integer division (a double
    * division would lose precision above 2^53 ns).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case other =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
}
