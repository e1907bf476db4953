package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.engine.Catalog

class CatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("sqlTypeName maps Spark types to ANSI/DuckDB names") {
    assert(Catalog.sqlTypeName(LongType) == "BIGINT")
    assert(Catalog.sqlTypeName(IntegerType) == "INTEGER")
    assert(Catalog.sqlTypeName(DoubleType) == "DOUBLE")
    assert(Catalog.sqlTypeName(StringType) == "VARCHAR")
    assert(Catalog.sqlTypeName(TimestampType) == "TIMESTAMP")
    assert(Catalog.sqlTypeName(TimestampNTZType) == "TIMESTAMP")
    assert(Catalog.sqlTypeName(ArrayType(FloatType)) == "FLOAT[]")
  }

  test("describe returns (col, dtype) rows") {
    import spark.implicits._
    val df = Seq((1L, "x", 2.0)).toDF("k", "s", "v")
    val d = Catalog.describe(df).collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(d == Map("k" -> "BIGINT", "s" -> "VARCHAR", "v" -> "DOUBLE"))
  }
}
