package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Catalog introspection (SURVEY §2.1 S13/S14): existence probes and
  * DESCRIBE, the reference's `information_schema.tables` checks
  * (`scripts/bronze_incremental.py:56-63`) and column listing
  * (`bronze_incremental.py:102`).
  */
object Catalog {

  /** Does a (parquet-dir or single-file) table exist under sfDir? Probed
    * via Hadoop FileSystem so the check works on HDFS/S3 paths too.
    */
  def tableExists(spark: SparkSession, sfDir: String, name: String): Boolean =
    Workdirs.exists(spark, s"$sfDir/$name.parquet")

  /** ANSI-ish SQL type name for a Spark type (matches DuckDB's DESCRIBE
    * names for every type in the testdata schemas).
    */
  def sqlTypeName(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case ShortType => "SMALLINT"
    case DoubleType => "DOUBLE"
    case FloatType => "FLOAT"
    case StringType => "VARCHAR"
    case BooleanType => "BOOLEAN"
    case TimestampType => "TIMESTAMP"
    case TimestampNTZType => "TIMESTAMP" // DuckDB TIMESTAMP is zone-less
    case DateType => "DATE"
    case BinaryType => "BLOB"
    case ArrayType(e, _) => s"${sqlTypeName(e)}[]"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case other => other.sql
  }

  /** DESCRIBE as a DataFrame of (col, dtype) — S14. */
  def describe(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.schema.fields.map(f => (f.name, sqlTypeName(f.dataType)))
      .toSeq.toDF("col", "dtype")
  }
}
