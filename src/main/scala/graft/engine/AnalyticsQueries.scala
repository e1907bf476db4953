package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-contract registry for the 7 dashboard queries + KPI (reference
  * `dashboard/queries.py`) over the gold layer, each with a DuckDB oracle.
  * See [[MedallionQueries]] for the hash-stability conventions.
  */
object AnalyticsQueries {

  // All dashboard queries read the MATERIALIZED gold layer (written once
  // per run by Gold.ensure) — the reference queries its persisted star
  // schema, it never rebuilds the fact per query.
  private def fact(s: SparkSession, d: String): DataFrame = Gold.fact(s, d)

  private def dimC(s: SparkSession, d: String): DataFrame = Gold.dimCustomer(s, d)

  /** The reference dashboard's example state filter
    * (`dashboard/app_fase1.py:133-136`), as a fixed IN-list so the
    * filtered KPI is oracle-checkable.
    */
  private val someStates = Seq("NATION_0", "NATION_7", "NATION_13", "NATION_21")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A7 two-level order-grain KPI (queries.py:15-35)
    "a01_kpis" -> ((s, d) => Analytics.kpis(fact(s, d), dimC(s, d))),
    // A3 grouped SUM + O1 top-k + J3 fact⋈dim_products (queries.py:40-52)
    "a02_top_categories" -> ((s, d) =>
      Analytics.topCategories(fact(s, d), Gold.dimPart(s, d), dimC(s, d))),
    // A6 COUNT(DISTINCT) + J2 (queries.py:57-67)
    "a03_orders_by_state" -> ((s, d) => Analytics.ordersByState(fact(s, d), dimC(s, d))),
    // A7/A4/A5 order-grain avg delivery (queries.py:74-92)
    "a04_shipping_time_by_state" -> ((s, d) =>
      Analytics.shippingTimeByState(fact(s, d), dimC(s, d))),
    // A7/A4 order-grain avg freight (queries.py:98-116)
    "a05_avg_freight_by_state" -> ((s, d) =>
      Analytics.avgFreightByState(fact(s, d), dimC(s, d))),
    // A3 + F5 strftime('%Y-%m') monthly trend (queries.py:122-132)
    "a06_monthly_trend" -> ((s, d) => Analytics.monthlyTrend(fact(s, d), dimC(s, d))),
    // A3 + F6 strftime('%A') + O3 CASE weekday sort (queries.py:137-155)
    "a07_weekday_seasonality" -> ((s, d) =>
      Analytics.weekdaySeasonality(fact(s, d), dimC(s, d))),
    // P6 IN-list filter pushed under the KPI agg (app_fase1.py:127-136)
    "a08_kpis_filtered" -> ((s, d) =>
      Analytics.kpis(fact(s, d), dimC(s, d), someStates))
  )

  private val factCte =
    s"""WITH fact AS (${MedallionQueries.factSql}),
       |dim_customer AS (
       |  SELECT c.c_custkey, n.n_name AS customer_state
       |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
       |)""".stripMargin

  private def kpiSql(where: String): String =
    s"""$factCte,
       |joined AS (
       |  SELECT f.*, c.customer_state FROM fact f
       |  JOIN dim_customer c ON f.customer_id = c.c_custkey
       |  $where
       |),
       |per_order AS (
       |  SELECT order_id,
       |         SUM(CAST(price AS DECIMAL(18,6))) AS order_revenue,
       |         MAX(delivery_time_days) AS delivery_time_days,
       |         SUM(CAST(freight_value AS DECIMAL(18,6))) AS freight_value
       |  FROM joined GROUP BY order_id
       |)
       |SELECT CAST(ROUND(SUM(order_revenue), 2) AS DOUBLE) AS total_sales,
       |       ROUND(AVG(delivery_time_days), 2) AS avg_delivery,
       |       COUNT(*) AS total_orders,
       |       ROUND(CAST(SUM(freight_value) AS DOUBLE) / COUNT(freight_value), 2) AS avg_freight,
       |       ROUND(CAST(SUM(order_revenue) AS DOUBLE) / COUNT(order_revenue), 2) AS avg_order_value
       |FROM per_order""".stripMargin

  def oracles: Map[String, String] = Map(
    "a01_kpis" -> kpiSql(""),

    "a02_top_categories" ->
      s"""$factCte
         |SELECT p.p_brand AS category,
         |       CAST(ROUND(SUM(CAST(f.price AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
         |FROM fact f
         |JOIN part p ON f.product_id = p.p_partkey
         |JOIN dim_customer c ON f.customer_id = c.c_custkey
         |GROUP BY p.p_brand
         |ORDER BY revenue DESC, category
         |LIMIT 10""".stripMargin,

    "a03_orders_by_state" ->
      s"""$factCte
         |SELECT c.customer_state, COUNT(DISTINCT f.order_id) AS n_orders
         |FROM fact f JOIN dim_customer c ON f.customer_id = c.c_custkey
         |GROUP BY c.customer_state
         |ORDER BY n_orders DESC, customer_state""".stripMargin,

    "a04_shipping_time_by_state" ->
      s"""$factCte,
         |per_order AS (
         |  SELECT f.order_id, c.customer_state,
         |         MAX(f.delivery_time_days) AS delivery_time_days
         |  FROM fact f JOIN dim_customer c ON f.customer_id = c.c_custkey
         |  GROUP BY f.order_id, c.customer_state
         |)
         |SELECT customer_state,
         |       ROUND(AVG(delivery_time_days), 2) AS avg_delivery_days
         |FROM per_order
         |GROUP BY customer_state
         |ORDER BY avg_delivery_days DESC, customer_state""".stripMargin,

    "a05_avg_freight_by_state" ->
      s"""$factCte,
         |per_order AS (
         |  SELECT f.order_id, c.customer_state,
         |         SUM(CAST(f.freight_value AS DECIMAL(18,6))) AS freight_value
         |  FROM fact f JOIN dim_customer c ON f.customer_id = c.c_custkey
         |  GROUP BY f.order_id, c.customer_state
         |)
         |SELECT customer_state,
         |       ROUND(CAST(SUM(freight_value) AS DOUBLE) / COUNT(freight_value), 2) AS avg_freight
         |FROM per_order
         |GROUP BY customer_state
         |ORDER BY avg_freight DESC, customer_state""".stripMargin,

    "a06_monthly_trend" ->
      s"""$factCte
         |SELECT strftime(f.order_purchase_timestamp, '%Y-%m') AS period,
         |       CAST(ROUND(SUM(CAST(f.price AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
         |FROM fact f JOIN dim_customer c ON f.customer_id = c.c_custkey
         |GROUP BY 1
         |ORDER BY period""".stripMargin,

    "a07_weekday_seasonality" ->
      s"""$factCte
         |SELECT strftime(f.order_purchase_timestamp, '%A') AS day_of_week,
         |       CAST(ROUND(SUM(CAST(f.price AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
         |FROM fact f JOIN dim_customer c ON f.customer_id = c.c_custkey
         |GROUP BY 1
         |ORDER BY CASE
         |  WHEN day_of_week = 'Monday' THEN 1
         |  WHEN day_of_week = 'Tuesday' THEN 2
         |  WHEN day_of_week = 'Wednesday' THEN 3
         |  WHEN day_of_week = 'Thursday' THEN 4
         |  WHEN day_of_week = 'Friday' THEN 5
         |  WHEN day_of_week = 'Saturday' THEN 6
         |  ELSE 7 END""".stripMargin,

    "a08_kpis_filtered" ->
      kpiSql("WHERE c.customer_state IN ('NATION_0','NATION_7','NATION_13','NATION_21')")
  )
}
