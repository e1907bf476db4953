package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-contract registry for the medallion layer: each entry is a
  * deterministic (ordered) DataFrame with an exactly-equivalent DuckDB
  * oracle SQL (same column names, same ordering, same types).
  *
  * Conventions for hash-stable oracle parity:
  *  - every computed integral column is cast to BIGINT on both sides;
  *  - every computed double AGGREGATE is rounded to 2 decimals on both
  *    sides (raw passthrough doubles and IEEE-deterministic products are
  *    left untouched — both engines read the same parquet bits);
  *  - every result carries a total ORDER BY over a unique key.
  */
object MedallionQueries {
  import Tables._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S3 parquet scan + P1 projection + P2 cast + P4 null filter (+ domain
    // gate, reference silver.py:8-11,29-44). Reads the MATERIALIZED silver
    // parquet (S5/S6 sink + re-scan), so the oracle check covers the full
    // write→read round trip, not just the transform.
    "m01_silver_orders" -> ((s, d) =>
      Gold.silverOrders(s, d).orderBy("o_orderkey")),

    // P1/P3/P4/P7: casts to double, null-key filter, price>=0.
    // (l_orderkey, l_linenumber) is NOT unique in the driver data
    // (~2% duplicate pairs), so the sort lists every column — a
    // non-total ORDER BY matches the oracle's tie order only by luck
    // of identical scan order, which multi-part sf1 files break.
    "m02_silver_lineitem" -> ((s, d) =>
      Gold.silverLineitem(s, d)
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_shipdate")),

    // J2-shape dim build: customer ⋈ broadcast(nation) ⋈ broadcast(region)
    "m03_dim_customer" -> ((s, d) =>
      Medallion.dimCustomer(customer(s, d), nation(s, d), region(s, d))
        .orderBy("c_custkey")),

    // P1 projection dim
    "m04_dim_part" -> ((s, d) =>
      Medallion.dimPart(part(s, d)).orderBy("p_partkey")),

    // A8 DISTINCT + F2 EXTRACT day/month/year/quarter + F3 DAYNAME
    "m05_dim_date" -> ((s, d) =>
      Medallion.dimDate(orders(s, d)).orderBy("order_date")),

    // J1 inner equi-join + P5 status gate + F4 datediff measure — read
    // back from the month-partitioned gold sink (S5 partitionBy + S6).
    // Total order over all columns: (order_id, line_id) alone is not
    // unique (see m02), and the partitioned sink's read order is
    // arbitrary by construction. The stored DECIMAL(18,4) money is
    // rendered as DOUBLE (no raw DECIMAL output column, the m07 rule
    // below): exact, since each value carries ≤4 decimals.
    "m06_fact_sales" -> ((s, d) =>
      Gold.fact(s, d)
        .withColumn("price", col("price").cast("double"))
        .withColumn("freight_value", col("freight_value").cast("double"))
        .orderBy("order_id", "line_id", "customer_id",
        "product_id", "price", "freight_value", "order_purchase_timestamp",
        "delivery_time_days")),

    // end-to-end DECIMAL gold: monthly money rollup straight off the
    // decimal-typed fact — the SUM itself runs over DECIMAL(18,4), so it
    // is exact and association-order-free by schema. The FINAL sums are
    // cast to DOUBLE on both sides (round 17): r16 proved the decimal
    // values bit-identical three independent ways, yet the driver's hash
    // of a DECIMAL(28,4) *output* column stayed red — the exact-sum-then-
    // deterministic-render pattern (x02) sidesteps the driver's decimal
    // rendering while keeping every arithmetic step exact. The
    // decimal→double render is itself exact-deterministic here: the
    // scaled sum is < 2^53 even at sf10, so both engines emit the one
    // correctly-rounded double. m08 below pins the other safe render
    // (canonical VARCHAR); the raw-DECIMAL observation itself is closed
    // — twice-proven (m07 r16, m08 r17) and recorded as the SURVEY §8
    // decimal-render rule.
    "m07_gold_decimal_monthly" -> ((s, d) =>
      Gold.fact(s, d)
        .groupBy(date_format(col("order_purchase_timestamp"), "yyyy-MM").as("month"))
        .agg(sum(col("price")).cast("double").as("revenue"),
          sum(col("freight_value")).cast("double").as("freight"))
        .orderBy("month")),

    // decimal render probe (round 18, VERDICT r17 #2): the r17 raw-
    // DECIMAL twin of this row did its one job — rows+schema matched,
    // hash red on trivially-identical 5-row constant data, proving (for
    // the second round running, after m07 in r16) that the driver's hash
    // of DECIMAL-typed OUTPUT columns diverges on bit-identical values.
    // That observation is recorded as the §8 decimal-render rule: never
    // emit a raw DECIMAL result column; finish exact decimal arithmetic,
    // then render as DOUBLE (when the scaled value fits 2^53 — m07/o82)
    // or as canonical VARCHAR. This row now characterizes the VARCHAR
    // leg: the same constant decimal values, CAST to string on BOTH
    // engines (Spark and DuckDB both render DECIMAL(18,4) at full scale,
    // "1.2500"), so green pins string-rendered decimals as driver-safe.
    "m08_decimal_probe" -> ((s, d) =>
      Tables.region(s, d)
        .select(col("r_regionkey").cast("bigint").as("k"),
          (col("r_regionkey").cast("double") * lit(1.25))
            .cast(org.apache.spark.sql.types.DecimalType(18, 4))
            .cast("string").as("dec_str"))
        .orderBy("k"))
  )

  /** Shared DuckDB CTE for the gold fact — inlined into oracles below and
    * in [[AnalyticsQueries]].
    *
    * freight_value rides DECIMAL(18,4) and back (round 16): the gold
    * fact stores money as DECIMAL(18,4) on disk, which canonicalizes the
    * double product `l_extendedprice * l_tax` to its exact ≤4-decimal
    * value. The same decimal round-trip here keeps the oracle's
    * passthrough doubles bit-identical to Spark's read-back — without it
    * a row whose raw product sits a half-ulp past a 4-decimal midpoint
    * would differ in the last ulp. price needs no round-trip: a
    * ≤2-decimal value is the same double on both paths.
    */
  val factSql: String =
    """SELECT l.l_orderkey AS order_id, l.l_linenumber AS line_id,
      |       o.o_custkey AS customer_id, l.l_partkey AS product_id,
      |       l.l_extendedprice AS price,
      |       CAST(CAST(l.l_extendedprice * l.l_tax AS DECIMAL(18,4)) AS DOUBLE)
      |         AS freight_value,
      |       CAST(o.o_orderdate AS TIMESTAMP) AS order_purchase_timestamp,
      |       CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
      |                      CAST(l.l_shipdate AS DATE)) AS BIGINT) AS delivery_time_days
      |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |WHERE o.o_orderstatus = 'F'
      |  AND o.o_orderkey IS NOT NULL AND o.o_custkey IS NOT NULL
      |  AND l.l_orderkey IS NOT NULL AND l.l_partkey IS NOT NULL
      |  AND l.l_extendedprice >= 0""".stripMargin

  def oracles: Map[String, String] = Map(
    "m01_silver_orders" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |       CAST(o_custkey AS BIGINT) AS o_custkey,
        |       o_orderstatus,
        |       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
        |       CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
        |       o_orderpriority
        |FROM orders
        |WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
        |  AND o_orderstatus IN ('F','P','O')
        |ORDER BY o_orderkey""".stripMargin,

    "m02_silver_lineitem" ->
      """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
        |       CAST(l_linenumber AS INTEGER) AS l_linenumber,
        |       CAST(l_partkey AS BIGINT) AS l_partkey,
        |       CAST(l_suppkey AS BIGINT) AS l_suppkey,
        |       CAST(l_quantity AS DOUBLE) AS l_quantity,
        |       CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
        |       CAST(l_discount AS DOUBLE) AS l_discount,
        |       CAST(l_tax AS DOUBLE) AS l_tax,
        |       l_returnflag,
        |       CAST(l_shipdate AS TIMESTAMP) AS l_shipdate
        |FROM lineitem
        |WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |  AND l_extendedprice >= 0
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |         l_quantity, l_extendedprice, l_discount, l_tax,
        |         l_returnflag, l_shipdate""".stripMargin,

    "m03_dim_customer" ->
      """SELECT c.c_custkey, c.c_name, c.c_mktsegment,
        |       n.n_name AS customer_state, r.r_name AS customer_region
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |ORDER BY c.c_custkey""".stripMargin,

    "m04_dim_part" ->
      """SELECT p_partkey, p_name, p_brand AS category, p_type
        |FROM part ORDER BY p_partkey""".stripMargin,

    "m05_dim_date" ->
      """SELECT order_date,
        |       CAST(EXTRACT(day FROM order_date) AS BIGINT) AS day,
        |       CAST(EXTRACT(month FROM order_date) AS BIGINT) AS month,
        |       CAST(EXTRACT(year FROM order_date) AS BIGINT) AS year,
        |       CAST(EXTRACT(quarter FROM order_date) AS BIGINT) AS quarter,
        |       dayname(order_date) AS day_of_week
        |FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date FROM orders)
        |ORDER BY order_date""".stripMargin,

    "m06_fact_sales" ->
      s"""WITH fact AS ($factSql)
         |SELECT * FROM fact
         |ORDER BY order_id, line_id, customer_id, product_id, price,
         |         freight_value, order_purchase_timestamp,
         |         delivery_time_days""".stripMargin,

    "m07_gold_decimal_monthly" ->
      s"""WITH fact AS ($factSql)
         |SELECT strftime(order_purchase_timestamp, '%Y-%m') AS month,
         |       CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
         |       CAST(SUM(CAST(freight_value AS DECIMAL(18,4))) AS DOUBLE) AS freight
         |FROM fact GROUP BY 1 ORDER BY month""".stripMargin,

    "m08_decimal_probe" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS k,
        |       CAST(CAST(CAST(r_regionkey AS DOUBLE) * 1.25 AS DECIMAL(18,4))
        |            AS VARCHAR) AS dec_str
        |FROM region ORDER BY k""".stripMargin
  )
}
