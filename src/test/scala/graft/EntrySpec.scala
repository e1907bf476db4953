package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mirror of the driver's flagship smoke check: `SparkEntry.entry` must
  * produce rows on sf0.001 with the KPI schema — it is the one registry
  * surface Verify does not exercise. Also pins the registry inventory
  * against the oracle table.
  */
class EntrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("entry() yields the KPI row with the expected columns on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSeq == Seq(
      "total_sales", "avg_delivery", "total_orders", "avg_freight", "avg_order_value"))
    val rows = df.collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(2) > 0, "total_orders must be positive")
  }

  test("registry inventory: every oracle has a query; only x04/x05 lack an oracle") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries -- oracles == Set("x04_approx_percentiles", "x05_heavy_hitters"))
    assert(oracles -- queries == Set.empty)
  }
}
