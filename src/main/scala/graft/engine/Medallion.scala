package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Bronze → Silver → Gold medallion transforms, re-expressed over the
  * driver testdata's TPC-H-ish tables (Olist→testdata analogy per
  * FIXTURES.md §4: orders→orders, order_items→lineitem,
  * customers→customer(+nation+region), products→part,
  * purchase ts→o_orderdate, delivered→o_orderstatus='F',
  * delivery days→datediff(l_shipdate, o_orderdate)).
  *
  * Reference semantics mirrored:
  *  - silver casts + null filters: `etl/tasks/silver.py:29-58`
  *  - gold dims:                   `etl/tasks/gold.py:12-47`
  *  - gold fact (join + status gate + datediff measure):
  *                                 `etl/tasks/gold.py:51-65`
  *
  * Scale posture: all transforms are narrow (projection/filter/cast)
  * except the fact build's orders⋈lineitem equi-join, which shuffles on
  * the natural key `*_orderkey` — at 100 TB both sides would be bucketed
  * or pre-partitioned on orderkey so the join is co-located; dims are
  * broadcast (each ≤ a few million rows even at full scale).
  */
object Medallion {

  /** Silver orders: explicit typing + the null-key drop of reference
    * `etl/tasks/silver.py:29-44`. A bad row it keeps fails the Pandera
    * gate, [[Quality.orderChecks]] (`silver.py:8-19`), not vanishes.
    */
  def silverOrders(orders: DataFrame): DataFrame =
    orders
      .select(
        col("o_orderkey").cast("long"),
        col("o_custkey").cast("long"),
        col("o_orderstatus").cast("string"),
        col("o_totalprice").cast("double"),
        col("o_orderdate").cast("timestamp"),
        col("o_orderpriority").cast("string"))
      .filter(col("o_orderkey").isNotNull)

  /** Silver lineitem: double casts + the null-key drop of reference
    * `etl/tasks/silver.py:47-58`; [[Quality.lineitemChecks]] gates the rest.
    */
  def silverLineitem(lineitem: DataFrame): DataFrame =
    lineitem
      .select(
        col("l_orderkey").cast("long"),
        col("l_linenumber").cast("int"),
        col("l_partkey").cast("long"),
        col("l_suppkey").cast("long"),
        col("l_quantity").cast("double"),
        col("l_extendedprice").cast("double"),
        col("l_discount").cast("double"),
        col("l_tax").cast("double"),
        col("l_returnflag").cast("string"),
        col("l_shipdate").cast("timestamp"))
      .filter(col("l_orderkey").isNotNull)

  /** Gold customer dimension: customer enriched with nation/region names —
    * the analog of `dim_customers(customer_id, city, state)`
    * (reference `etl/tasks/gold.py:12-19`). nation/region are tiny →
    * broadcast joins, zero shuffle.
    */
  def dimCustomer(customer: DataFrame, nation: DataFrame, region: DataFrame): DataFrame =
    customer
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .select(
        col("c_custkey"),
        col("c_name"),
        col("c_mktsegment"),
        col("n_name").as("customer_state"),
        col("r_name").as("customer_region"))

  /** Gold product dimension analog of `dim_products(product_id, category)`
    * (reference `etl/tasks/gold.py:22-28`); p_brand plays the category.
    */
  def dimPart(part: DataFrame): DataFrame =
    part.select(
      col("p_partkey"),
      col("p_name"),
      col("p_brand").as("category"),
      col("p_type"))

  /** Gold time dimension: one row per distinct order date with calendar
    * attributes — mirrors reference `etl/tasks/gold.py:31-47`
    * (SELECT DISTINCT CAST(ts AS DATE), EXTRACT day/month/year/quarter,
    * DAYNAME). day_of_week uses date_format 'EEEE' = English day names,
    * matching DuckDB's DAYNAME under a UTC session.
    */
  def dimDate(orders: DataFrame): DataFrame =
    orders
      .select(col("o_orderdate").cast("date").as("order_date"))
      .distinct()
      .select(
        col("order_date"),
        dayofmonth(col("order_date")).cast("long").as("day"),
        month(col("order_date")).cast("long").as("month"),
        year(col("order_date")).cast("long").as("year"),
        quarter(col("order_date")).cast("long").as("quarter"),
        date_format(col("order_date"), "EEEE").as("day_of_week"))

  /** Gold fact at item grain: delivered-analog orders (status 'F') joined
    * to lineitem, with the delivery-days measure. Mirrors reference
    * `etl/tasks/gold.py:51-65`:
    *   - inner equi-join orders⋈items on the order key  (gold.py:62-63)
    *   - `WHERE o.order_status = 'delivered'` gate       (gold.py:64)
    *   - `date_diff('day', purchase, delivered)` measure (gold.py:61)
    * Money (`price`, `freight_value`) is DECIMAL(18,4), the one type gold
    * stores it in: every money aggregate over the fact is exact and
    * association-order-free by schema. Values are the silver doubles':
    * price carries ≤2 decimals, and freight's double product is
    * canonicalized to its exact ≤4-decimal value (the oracle's factSql
    * applies the same canonicalization).
    * The status filter is applied to orders BEFORE the join so it reaches
    * the parquet scan (PushedFilters) and shrinks the shuffled side.
    */
  def factSales(silverOrders: DataFrame, silverLineitem: DataFrame): DataFrame = {
    val delivered = silverOrders.filter(col("o_orderstatus") === "F")
    delivered
      .join(silverLineitem, delivered("o_orderkey") === silverLineitem("l_orderkey"))
      .select(
        col("l_orderkey").as("order_id"),
        col("l_linenumber").as("line_id"),
        col("o_custkey").as("customer_id"),
        col("l_partkey").as("product_id"),
        col("l_extendedprice").cast(DecimalType(18, 4)).as("price"),
        (col("l_extendedprice") * col("l_tax")).cast(DecimalType(18, 4)).as("freight_value"),
        col("o_orderdate").as("order_purchase_timestamp"),
        datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("delivery_time_days"))
  }
}
