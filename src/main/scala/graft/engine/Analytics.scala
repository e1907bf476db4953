package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference dashboard's 7 analytical queries + KPI rollup
  * (reference `dashboard/queries.py:15-155`), re-expressed as DataFrame
  * pipelines over the gold fact/dims of [[Medallion]].
  *
  * The load-bearing semantic (reference `dashboard/queries.py:8-13,70-73`)
  * is the ORDER-GRAIN-THEN-AGGREGATE shape: fact rows are item grain, so
  * order-level measures (delivery days, freight, order revenue) must first
  * collapse to one row per order (`GROUP BY order_id`) before the outer
  * AVG/COUNT — a naive item-grain AVG is the fan-out bug the reference
  * engineered around. All money aggregates are rounded to 2 decimals to
  * make results hash-stable across summation orders (Spark's partial
  * aggregation is order-free; the true sum differs from any fixed-order
  * sum only in the last ulps).
  *
  * Scale posture: each query is one shuffle on its grouping key (plus the
  * broadcast dim join). The two-level KPI is two aggregations but the
  * second input is one-row-per-order (already tiny relative to fact).
  * State filters are pushed below the aggregation so they prune before
  * the shuffle.
  */
object Analytics {

  /** Optional IN-list state filter — the reference's sidebar WHERE
    * injection (`dashboard/app_fase1.py:127-136`), parameterized instead
    * of string-spliced.
    */
  private def stateGate(df: DataFrame, states: Seq[String]): DataFrame =
    if (states.isEmpty) df
    else df.filter(col("customer_state").isin(states: _*))

  /** fact ⋈ dim_customer, the shape every dashboard query starts from
    * (reference `dashboard/queries.py:23-24` etc.). No broadcast hint:
    * the customer dim is unbounded-cardinality (billions of rows at
    * 100 TB), so the strategy is left to AQE — which still picks a
    * broadcast join while the dim is small, and falls back to a shuffle
    * join (pre-bucket both sides on the customer key in a real deployment)
    * when it is not. Only truly bounded dims (nation/region in
    * [[Medallion.dimCustomer]]) carry an explicit broadcast hint.
    */
  def factWithState(fact: DataFrame, dimCustomer: DataFrame): DataFrame =
    fact.join(
      dimCustomer.select("c_custkey", "customer_state"),
      fact("customer_id") === col("c_custkey"))

  /** KPI rollup — reference `dashboard/queries.py:15-35`.
    * Per-order: SUM(price), MAX(delivery_days), SUM(freight); then global
    * SUM/AVG/COUNT/AVG/AVG.
    */
  /** Order-free money aggregation (round-15 sf10 lesson): every money
    * double is cast to DECIMAL(18,6) BEFORE it is summed — exact for
    * values with ≤6 decimal places (money here carries ≤4), and a
    * decimal sum is bit-stable under ANY association order and
    * partitioning on both engines. A plain SUM(double) over 15 M rows
    * is last-ulp order-dependent, which crosses `round(…, 2)`
    * boundaries at the sf10 rehearsal (measured: a01 total_sales
    * 1051192477187.0 vs …186.9). Averages divide the exact decimal sum
    * (cast to double — one well-defined conversion) by the count with a
    * single IEEE division, so no float ever accumulates.
    */
  private def moneySum(c: Column): Column =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(18, 6)))

  /** `c` (a DOUBLE) rounded to `digits` decimals the way the oracle rounds
    * a DOUBLE: DuckDB's `ROUND(x, n)` is C's `round(x * 10^n) / 10^n`, on
    * the binary value, while Spark's `round(x, n)` rounds x's shortest
    * decimal string half-up (8871.845 is 8871.8449999…: DuckDB gives
    * 8871.84, Spark 8871.85). Rounding `c * 10^n` to an integer in
    * Spark is exact: a double whose shortest string ends in .5 is
    * exactly k + 0.5, and both engines then round it away from zero.
    */
  def roundDouble(c: Column, digits: Int = 2): Column = {
    val scale = math.pow(10, digits)
    round(c * scale, 0) / scale
  }

  def kpis(fact: DataFrame, dimCustomer: DataFrame, states: Seq[String] = Nil): DataFrame = {
    val perOrder = stateGate(factWithState(fact, dimCustomer), states)
      .groupBy(col("order_id"))
      .agg(
        moneySum(col("price")).as("order_revenue"),
        max(col("delivery_time_days")).as("delivery_time_days"),
        moneySum(col("freight_value")).as("freight_value"))
    perOrder.agg(
      round(sum(col("order_revenue")), 2).cast("double").as("total_sales"),
      roundDouble(avg(col("delivery_time_days"))).as("avg_delivery"),
      count(lit(1)).as("total_orders"),
      // divide by count(<col>), not count(*): SUM(decimal)/COUNT must keep
      // AVG's NULL semantics (NULL rows excluded from the denominator) or
      // it silently diverges from the reference dashboard's AVG the day a
      // money column carries a NULL — and the oracle gate can't catch it,
      // since both engines would drift together
      roundDouble(sum(col("freight_value")).cast("double")
        / count(col("freight_value"))).as("avg_freight"),
      roundDouble(sum(col("order_revenue")).cast("double")
        / count(col("order_revenue"))).as("avg_order_value"))
  }

  /** Top-10 categories by revenue — reference `dashboard/queries.py:40-52`.
    * Item grain is correct here (revenue sums over items). Catalyst plans
    * the ORDER BY+LIMIT as TakeOrderedAndProject (no global sort).
    */
  def topCategories(fact: DataFrame, dimPart: DataFrame, dimCustomer: DataFrame,
                    states: Seq[String] = Nil, k: Int = 10): DataFrame =
    stateGate(factWithState(fact, dimCustomer), states)
      .join(broadcast(dimPart.select("p_partkey", "category")),
        col("product_id") === col("p_partkey"))
      .groupBy(col("category"))
      .agg(round(moneySum(col("price")), 2).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("category"))
      .limit(k)

  /** Distinct orders per state — reference `dashboard/queries.py:57-67`. */
  def ordersByState(fact: DataFrame, dimCustomer: DataFrame, states: Seq[String] = Nil): DataFrame =
    stateGate(factWithState(fact, dimCustomer), states)
      .groupBy(col("customer_state"))
      .agg(countDistinct(col("order_id")).as("n_orders"))
      .orderBy(col("n_orders").desc, col("customer_state"))

  /** Avg delivery days per state, order grain first — reference
    * `dashboard/queries.py:74-92`.
    */
  def shippingTimeByState(fact: DataFrame, dimCustomer: DataFrame,
                          states: Seq[String] = Nil): DataFrame =
    stateGate(factWithState(fact, dimCustomer), states)
      .groupBy(col("order_id"), col("customer_state"))
      .agg(max(col("delivery_time_days")).as("delivery_time_days"))
      .groupBy(col("customer_state"))
      .agg(roundDouble(avg(col("delivery_time_days"))).as("avg_delivery_days"))
      .orderBy(col("avg_delivery_days").desc, col("customer_state"))

  /** Avg freight per state, order grain first — reference
    * `dashboard/queries.py:98-116`.
    */
  def avgFreightByState(fact: DataFrame, dimCustomer: DataFrame,
                        states: Seq[String] = Nil): DataFrame =
    stateGate(factWithState(fact, dimCustomer), states)
      .groupBy(col("order_id"), col("customer_state"))
      .agg(moneySum(col("freight_value")).as("freight_value"))
      .groupBy(col("customer_state"))
      .agg(roundDouble(sum(col("freight_value")).cast("double")
        / count(col("freight_value"))) // count(col): AVG NULL semantics
        .as("avg_freight"))
      .orderBy(col("avg_freight").desc, col("customer_state"))

  /** Monthly revenue trend — reference `dashboard/queries.py:122-132`;
    * strftime('%Y-%m') ↔ date_format 'yyyy-MM'.
    */
  def monthlyTrend(fact: DataFrame, dimCustomer: DataFrame, states: Seq[String] = Nil): DataFrame =
    stateGate(factWithState(fact, dimCustomer), states)
      .groupBy(date_format(col("order_purchase_timestamp"), "yyyy-MM").as("period"))
      .agg(round(moneySum(col("price")), 2).cast("double").as("revenue"))
      .orderBy(col("period"))

  /** Weekday seasonality with the Monday-first CASE sort — reference
    * `dashboard/queries.py:137-155`; strftime('%A') ↔ date_format 'EEEE'.
    */
  def weekdaySeasonality(fact: DataFrame, dimCustomer: DataFrame,
                         states: Seq[String] = Nil): DataFrame = {
    val dowRank = when(col("day_of_week") === "Monday", 1)
      .when(col("day_of_week") === "Tuesday", 2)
      .when(col("day_of_week") === "Wednesday", 3)
      .when(col("day_of_week") === "Thursday", 4)
      .when(col("day_of_week") === "Friday", 5)
      .when(col("day_of_week") === "Saturday", 6)
      .otherwise(7)
    stateGate(factWithState(fact, dimCustomer), states)
      .groupBy(date_format(col("order_purchase_timestamp"), "EEEE").as("day_of_week"))
      .agg(round(moneySum(col("price")), 2).cast("double").as("revenue"))
      .orderBy(dowRank)
  }
}
