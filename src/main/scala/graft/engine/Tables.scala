package graft.engine

import java.io.IOException

import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{DataSource, HadoopFsRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet table loaders over a scale-factor directory of the driver
  * testdata (see TESTDATA.md). Mirrors the reference's bronze scans
  * (reference `etl/tasks/bronze.py:26-31`, `scripts/bronze_incremental.py:69`)
  * but parquet-native: Spark's vectorized parquet reader gives columnar IO,
  * predicate pushdown, and column pruning for free as long as callers keep
  * the plan declarative (select/filter before any wide op).
  *
  * Every read (Gold's layer tables too) goes through [[parquet]], which
  * learns the schema from one file footer on the driver, as the
  * reference's DuckDB `read_parquet` does, instead of Spark's inference
  * job. The schema still comes from the file on disk, so a changed input
  * type reaches the caller as it is.
  *
  * At 100 TB these would be partitioned table roots (e.g. orders
  * partitioned by month, as the reference's landing zone is —
  * `scripts/esplosione_dati.py:135-154`); [[parquet]] handles a directory
  * of files identically, and partition pruning applies when a partition
  * column filter is present.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(path)` for a path whose schema the engine did not
    * record, without the Spark job Spark's schema inference starts (one
    * per read, even for one file). It resolves the read's relation once
    * (Spark's own listing, and `PATH_NOT_FOUND` for a missing path or an
    * unmatched glob) and reads on the driver the one footer of its files
    * that inference reads with `mergeSchema` off: a `_common_metadata`,
    * else a `_metadata` summary, else the first data file by path. Spark's
    * converter turns it into the relation's data columns, so the session's
    * parquet flags apply as to inference. An unreadable footer fails with
    * Spark's `FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER` naming the file.
    * Where inference would not touch exactly one footer (no data file,
    * `mergeSchema` on, or a corrupt footer under `ignoreCorruptFiles`),
    * Spark infers, and raises its own error.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) spark.read.parquet(path)
    else {
      // the relation `spark.read.parquet(path)` resolves, before its data columns
      val relation = DataSource(spark, "parquet", userSpecifiedSchema = Some(new StructType()),
        options = Map("path" -> path)).resolveRelation().asInstanceOf[HadoopFsRelation]
      footerSchema(spark, relation).fold(spark.read.parquet(path))(s =>
        spark.baseRelationToDataFrame(Bridge.withDataSchema(relation, s)))
    }

  private def footerSchema(spark: SparkSession, relation: HadoopFsRelation): Option[StructType] = {
    val files = relation.location match {
      case i: PartitioningAwareFileIndex => i.allFiles().sortBy(_.getPath.toString)
      case _ => Nil
    }
    def named(name: String) = files.find(_.getPath.getName == name)
    val summaries = Set(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    named(PARQUET_COMMON_METADATA_FILE).orElse(named(PARQUET_METADATA_FILE))
      .orElse(files.find(f => !summaries(f.getPath.getName)))
      .flatMap { file =>
        val conf = spark.sessionState.conf
        val footer =
          try Some(ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf()), SKIP_ROW_GROUPS))
          catch {
            case _: RuntimeException | _: IOException if conf.ignoreCorruptFiles => None
            case e @ (_: RuntimeException | _: IOException) => throw new SparkException(
              "FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER", Map("path" -> file.getPath.toString), e)
          }
        footer.map(f => ParquetFileFormat.readSchemaFromFooter(
          new Footer(file.getPath, f), new ParquetToSparkSchemaConverter(conf)))
      }
  }

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
