package graft

import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import graft.engine.Analytics

class AnalyticsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // item-grain fact: order 10 has two items (deliveries 4 and 8), order 20 one
  private def fact = Seq(
    (10L, 1L, 100L, 1L, 10.0, 1.0, ts("2020-01-06 00:00:00"), 4L),
    (10L, 2L, 100L, 2L, 20.0, 2.0, ts("2020-01-06 00:00:00"), 8L),
    (20L, 1L, 200L, 1L, 40.0, 4.0, ts("2020-01-07 00:00:00"), 3L)
  ).toDF("order_id", "line_id", "customer_id", "product_id", "price",
    "freight_value", "order_purchase_timestamp", "delivery_time_days")

  private def dimC = Seq((100L, "SP"), (200L, "RJ")).toDF("c_custkey", "customer_state")

  test("KPI uses ORDER grain, not item grain (the reference's fan-out guard)") {
    val r = Analytics.kpis(fact, dimC).collect()(0)
    assert(r.getAs[Double]("total_sales") == 70.0)
    // order-grain avg delivery = (max(4,8) + 3)/2 = 5.5; item-grain would be 5.0
    assert(r.getAs[Double]("avg_delivery") == 5.5)
    assert(r.getAs[Long]("total_orders") == 2L)
    assert(r.getAs[Double]("avg_order_value") == 35.0)
    assert(r.getAs[Double]("avg_freight") == 3.5) // (1+2 | 4) order sums -> avg(3,4)
  }

  test("state filter prunes before aggregation") {
    val r = Analytics.kpis(fact, dimC, states = Seq("SP")).collect()(0)
    assert(r.getAs[Double]("total_sales") == 30.0)
    assert(r.getAs[Long]("total_orders") == 1L)
  }

  test("weekday seasonality emits Monday-first ordering") {
    val days = Analytics.weekdaySeasonality(fact, dimC).collect().map(_.getString(0)).toSeq
    assert(days == Seq("Monday", "Tuesday")) // 2020-01-06 Mon, 01-07 Tue
  }

  test("monthly trend buckets by yyyy-MM") {
    val r = Analytics.monthlyTrend(fact, dimC).collect()
    assert(r.length == 1 && r(0).getString(0) == "2020-01" && r(0).getDouble(1) == 70.0)
  }

  test("order-grain averages round the double the way the oracle's ROUND(DOUBLE, 2) does") {
    // one single-item order per state, so each state's avg_freight is its
    // freight value; DuckDB rounds the binary value (8871.845 is
    // 8871.8449999…), Spark's round(x, 2) its shortest decimal string
    val freights = Seq("S1" -> 8871.845, "S2" -> 1.005, "S3" -> 0.125, "S4" -> 2.675)
    val oneItemOrders = freights.zipWithIndex.map { case ((_, f), i) =>
      (i.toLong, 1L, i.toLong, 1L, 1.0, f, ts("2020-01-06 00:00:00"), 1L)
    }.toDF("order_id", "line_id", "customer_id", "product_id", "price",
      "freight_value", "order_purchase_timestamp", "delivery_time_days")
    val states = freights.zipWithIndex.map { case ((st, _), i) => (i.toLong, st) }
      .toDF("c_custkey", "customer_state")
    val got = Analytics.avgFreightByState(oneItemOrders, states).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("S1" -> 8871.84, "S2" -> 1.0, "S3" -> 0.13, "S4" -> 2.68))
    val direct = freights.map(_._2).toDF("x")
      .select(Analytics.roundDouble($"x")).as[Double].collect().toSeq
    assert(direct == Seq(8871.84, 1.0, 0.13, 2.68))
  }
}
