package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet table loaders over a scale-factor directory of the driver
  * testdata (see TESTDATA.md). Mirrors the reference's bronze scans
  * (reference `etl/tasks/bronze.py:26-31`, `scripts/bronze_incremental.py:69`)
  * but parquet-native: Spark's vectorized parquet reader gives columnar IO,
  * predicate pushdown, and column pruning for free as long as callers keep
  * the plan declarative (select/filter before any wide op).
  *
  * At 100 TB these would be partitioned table roots (e.g. orders
  * partitioned by month, as the reference's landing zone is —
  * `scripts/esplosione_dati.py:135-154`); `spark.read.parquet(dir)`
  * handles a directory of files identically, and partition pruning
  * applies when a partition column filter is present.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.parquet has shipped with two physical types for `ts` across
    * driver testdata generations: TIMESTAMP(NANOS) (which Spark's parquet
    * reader rejects as a timestamp — it surfaces as a raw long under
    * legacy.parquet.nanosAsLong) and plain TIMESTAMP(MICROS). Adapt to
    * whichever is on disk: longs are truncated ns→µs with exact integer
    * division (`div 1000`, no double rounding — matches DuckDB's own
    * truncation when it reads the same file); native µs timestamps arrive
    * as TIMESTAMP_NTZ (no tz annotation in the file) and are cast to
    * TIMESTAMP — the session tz is pinned to UTC everywhere, so the cast
    * preserves wall-clock values and keeps downstream consumers
    * (watermarks reject NTZ; prior oracle-green rounds hashed TIMESTAMP)
    * on one type whichever file generation is on disk.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    eventTs(load(s, d, "events"))
  }

  /** `events` with its `ts` as TIMESTAMP, whichever physical type it was
    * read as (see [[events]]); the batch and the streaming reads share it.
    */
  def eventTs(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
    case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
    case _ => raw
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
