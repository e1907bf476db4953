package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Catalog introspection (SURVEY §2.1 S14): DESCRIBE, the reference's
  * column listing (`scripts/bronze_incremental.py:102`). The existence
  * probes of S13 are [[Workdirs.exists]].
  */
object Catalog {

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
