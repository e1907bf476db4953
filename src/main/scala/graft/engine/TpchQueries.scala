package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Classic TPC-H-shape analytical queries over the testdata star —
  * beyond the reference's 7 dashboard queries, these are the canonical
  * OLAP shapes any user of an analytics engine reaches for: the Q1
  * pricing summary (wide multi-aggregate scan), Q6 predicate-heavy
  * single-pass revenue delta, Q3 segment-filtered join + top-k, Q4
  * correlated-EXISTS priority check, Q5 six-table snowflake join, Q10
  * returned-item top-k, Q14 conditional-aggregate ratio, Q18
  * IN-on-aggregated-subquery, Q22 scalar-subquery threshold + anti-join,
  * Q2-style correlated-MIN join-back, Q12 two-way conditional split,
  * Q17 correlated-average threshold join, Q21 semi+anti
  * self-composition, and Q13 histogram-of-counts double aggregation
  * (columns the testdata lacks — l_commitdate, l_shipmode, partsupp —
  * are adapted, the operator shapes are not). All scan-dominant: filters push to parquet, aggregates are
  * one partial+final shuffle, top-k plans as TakeOrderedAndProject,
  * fixed-size dims broadcast while SF-scaled tables stay unhinted for
  * AQE.
  */
object TpchQueries {
  import Tables._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q1: pricing summary report
    "t01_pricing_summary" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Analytics.roundDouble(sum(col("l_quantity")), 2).as("sum_qty"),
          // money sums ride DECIMAL(18,6) — exact and association-order-
          // free; a SUM(double) over 60 M rows drifts in its last ulp and
          // crossed the round(…,2) boundary at the sf10 rehearsal. The
          // disc_price product is cast AFTER the multiply: the true value
          // has 4 decimals and the double product's 1e-13 relative error
          // is far inside the 6-decimal cast, so the cast recovers the
          // exact product on both engines.
          round(sum(col("l_extendedprice").cast("decimal(18,6)")), 2)
            .cast("double").as("sum_base_price"),
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")), 2).cast("double").as("sum_disc_price"),
          Analytics.roundDouble(avg(col("l_quantity")), 2).as("avg_qty"),
          Analytics.roundDouble(sum(col("l_discount").cast("decimal(18,6)")).cast("double")
            / count(col("l_discount")), 4).as("avg_disc"), // count(col): AVG NULL semantics
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // Q6: forecast revenue change (predicate-heavy single pass)
    "t02_revenue_delta" -> ((s, d) =>
      lineitem(s, d)
        .filter(
          col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
            col("l_shipdate") < to_timestamp(lit("1996-01-01")) &&
            col("l_discount").between(0.03, 0.05) &&
            col("l_quantity") < 24)
        // per-row DECIMAL(18,4) before SUM (the t01/t05-t09 discipline):
        // the true product has ≤4 decimals, so the cast recovers it
        // exactly and the sum is association-order-free on both engines
        .agg(round(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(18,4)")), 2).cast("double").as("revenue"))),

    // Q3: shipping-priority top-10 orders for one market segment
    "t03_shipping_priority" -> ((s, d) =>
      customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .join(orders(s, d), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < to_timestamp(lit("1997-01-01")))
        .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > to_timestamp(lit("1997-01-01")))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")), 2).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)),

    // Q4 shape: order-priority checking. The testdata has no
    // l_commitdate/l_receiptdate, so "late" is adapted to "an item
    // shipped >30 days after the order date"; the operator under test —
    // correlated EXISTS planned as a left-semi join with a non-equi
    // conjunct — is identical to Q4's.
    "t04_order_priority" -> ((s, d) => {
      val o = orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1996-04-01")))
      o.join(lineitem(s, d),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAY"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // Q5: local-supplier volume — the canonical 6-table snowflake join.
    // nation⋈region is a fixed 25-row dim ⇒ broadcast is scale-safe;
    // customer/orders/lineitem/supplier all grow with SF ⇒ left unhinted
    // for AQE to pick shuffle vs broadcast at runtime.
    "t05_local_supplier_volume" -> ((s, d) => {
      val asiaNations = nation(s, d)
        .join(region(s, d).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      customer(s, d)
        .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
        .join(orders(s, d)
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1997-01-01"))),
          col("c_custkey") === col("o_custkey"))
        .join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(supplier(s, d),
          col("l_suppkey") === col("s_suppkey") &&
            col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        // per-row DECIMAL(18,4) before SUM (as t06-t09): decimal addition
        // is exact and order-free, so Spark's partial-agg order can't flip
        // the 2-decimal round vs the oracle at larger SF
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")), 2).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // Q10 shape: returned-item reporting — top 20 customers by revenue
    // lost to returns in one quarter. Revenue sums per-row DECIMAL(18,4)
    // (not double): small per-group sums are where double addition order
    // flips the last ulp between engines and breaks the 2-decimal round —
    // decimal addition is exact and order-free, so Spark and the DuckDB
    // oracle agree bit-for-bit.
    "t06_returned_items" -> ((s, d) =>
      customer(s, d)
        .join(broadcast(nation(s, d).select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .join(orders(s, d)
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1996-04-01"))),
          col("c_custkey") === col("o_custkey"))
        .join(lineitem(s, d).filter(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")), 2).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)),

    // Q14: promotion effect — conditional-aggregate ratio over one month
    "t07_promo_effect" -> ((s, d) => {
      // both sums ride DECIMAL(18,4) (exact, order-free); the ratio is
      // then ONE IEEE division of two exact values — no float accumulates
      val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")
      lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-09-01")) &&
          col("l_shipdate") < to_timestamp(lit("1996-10-01")))
        .join(part(s, d).select("p_partkey", "p_type"),
          col("l_partkey") === col("p_partkey"))
        .agg(Analytics.roundDouble(
          lit(100.0) * sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0).cast("decimal(18,4)"))).cast("double")
            / sum(rev).cast("double"), 2).as("promo_revenue_pct"))
    }),

    // Q7 shape: bilateral trade volume — the OR-paired join predicate
    // ((supp=A AND cust=B) OR (supp=B AND cust=A)) that planners must
    // keep ABOVE the equi-joins rather than turning into a cartesian;
    // nation is the fixed 25-row dim, broadcast twice under two aliases
    "t08_nation_volume" -> ((s, d) => {
      val supN = nation(s, d).select(
        col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val cusN = nation(s, d).select(
        col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val pair = (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1")
      lineitem(s, d)
        .join(supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(supN), col("s_nationkey") === col("s_nk"))
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(cusN), col("c_nationkey") === col("c_nk"))
        .filter(pair)
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")), 2).cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // Q19 shape: disjunctive multi-column predicate (OR of conjunctions
    // spanning both join sides) — the filter canNOT fully push below the
    // join, but each disjunct's part-only conjuncts can; grades how the
    // planner splits a disjunction
    "t09_disjunctive_filter" -> ((s, d) => {
      val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")
      lineitem(s, d)
        .join(part(s, d).select("p_partkey", "p_brand", "p_size"),
          col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
            (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
              col("l_quantity").between(10, 35)))
        .agg(round(sum(rev), 2).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // Q18 shape: large-volume customers — the IN-on-aggregated-subquery
    // pattern, planned as (partial-agg'd HAVING subquery) ⋈ orders ⋈
    // customer. total_qty sums integer-valued doubles, exact and
    // order-free below 2^53, so no decimal detour is needed.
    "t10_large_volume" -> ((s, d) => {
      val big = lineitem(s, d).groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 300)
      customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"))
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }),

    // Q22 shape: dormant high-balance customers — an uncorrelated SCALAR
    // subquery (global balance threshold) gating an anti-join against
    // recent orders. The scalar is sum(decimal)/count, not avg(double):
    // exact and order-free on both engines, so threshold membership can
    // never flip on partial-agg order (the one-row threshold broadcasts).
    "t11_dormant_customers" -> ((s, d) => {
      val thr = customer(s, d).filter(col("c_acctbal") > 0)
        .agg((sum(col("c_acctbal").cast("decimal(18,4)")).cast("double")
          / count(lit(1))).as("thr"))
      val recent = orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("2000-07-01")))
        .select(col("o_custkey").as("c_custkey"))
      customer(s, d)
        .crossJoin(broadcast(thr)) // 1-row scalar: bounded by construction
        .filter(col("c_acctbal") > col("thr"))
        .join(recent, Seq("c_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_custs"),
          round(sum(col("c_acctbal").cast("decimal(18,4)")), 2).cast("double")
            .as("total_bal"))
        .orderBy("c_mktsegment")
    }),

    // Q2 shape: correlated-MIN subquery — each nation's cheapest
    // order(s). Expressed Spark-side as a whole-partition window MIN +
    // filter: ONE scan and one shuffle, where the naive group-min +
    // join-back de-correlation reads the joined relation twice. The
    // oracle keeps the correlated-subquery form, so the hash check locks
    // the formulations equivalent. MIN is selection, not arithmetic —
    // the double compares equal bit-for-bit across engines.
    "t12_cheapest_order" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("n_name"))
      orders(s, d)
        .join(customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d).select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("min_price", min(col("o_totalprice")).over(w))
        .filter(col("o_totalprice") === col("min_price"))
        .select(col("n_name"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("n_name", "o_orderkey")
    }),

    // Q12 shape: two-way conditional aggregation after a fact join —
    // per line status, how many lines belong to high- vs low-priority
    // orders (l_shipmode adapted to l_linestatus; the
    // count-split-by-joined-attribute shape is Q12's point)
    "t13_priority_line_split" -> ((s, d) =>
      orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
        .join(lineitem(s, d)
            .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
              col("l_shipdate") < to_timestamp(lit("1997-01-01")))
            .select(col("l_orderkey"), col("l_linestatus")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy("l_linestatus")),

    // Q17 shape: per-key correlated-average threshold — revenue lost by
    // always stocking small-quantity brand orders. The per-part 20%-of-
    // average threshold is de-correlated into a group-avg + join-back;
    // quantities are integral, so the threshold is computed in EXACT
    // long arithmetic cast to double at the end (a double-sum threshold
    // would be summation-order-dependent and flip boundary rows between
    // engines).
    "t14_small_quantity_revenue" -> ((s, d) => {
      val li = lineitem(s, d)
      val thresholds = li.groupBy(col("l_partkey")).agg(
        (lit(0.2) * sum(col("l_quantity").cast("long")).cast("double") /
          count(lit(1))).as("qty_threshold"))
      li.join(broadcast(part(s, d).filter(col("p_brand") === "Brand#4")
          .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .join(thresholds, "l_partkey")
        .filter(col("l_quantity") < col("qty_threshold"))
        // revenue summed in DECIMAL (the t17/o51 convention): a double
        // sum is summation-order-dependent, and rounding it at 2
        // decimals can flip the last digit between engines
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,4)")) / 7.0, 2)
          .cast("double").as("avg_yearly"))
    }),

    // Q21 shape: semi ⨝ anti composition over a self-referencing fact —
    // suppliers whose RETURNED line sits on a multi-supplier order where
    // no OTHER supplier returned anything (l_receiptdate/l_commitdate
    // adapted to l_returnflag; the exists + not-exists pair on the same
    // relation is Q21's point). DISTINCT (order, supplier) pairs make
    // the count well-defined when a supplier returns several lines of
    // one order.
    // Round 20 rewrite (same result, aggregation instead of non-equi
    // probes): "∃ another supplier in the order" ⟺ the order has ≥ 2
    // distinct suppliers, and "∄ another RETURNING supplier" ⟺ the
    // order's distinct returning-supplier count is exactly 1 — so both
    // EXISTS probes collapse into counts. The old shape ran a semi and
    // an anti join whose l_suppkey <> probe.supp residual made every
    // probe row scan its whole orderkey group (a hot order's group is
    // quadratic work, and the anti's build side was the full returned
    // set); now the per-order supplier count is a map-side-combinable
    // aggregate, the sole-returning filter is a count window over the
    // already-grouped returned pairs, and the one remaining join is a
    // plain equi semi-join on orderkey. Oracle unchanged.
    "t15_sole_returning_supplier" -> ((s, d) => {
      val li = lineitem(s, d)
      val returned = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      val soleReturned = returned
        .withColumn("n_ret", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("l_orderkey"))))
        .filter(col("n_ret") === 1)
        .select(col("l_orderkey"), col("l_suppkey"))
      val multiSupplier = li.groupBy(col("l_orderkey").as("o_key"))
        .agg(countDistinct(col("l_suppkey")).as("n_all"))
        .filter(col("n_all") >= 2)
        .select(col("o_key"))
      soleReturned
        .join(multiSupplier, col("l_orderkey") === col("o_key"), "left_semi")
        .join(broadcast(supplier(s, d).select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }),

    // Q15 shape: join-back on the MAX of a grouped aggregate — the
    // quarter's top revenue supplier(s). Revenue is summed in DECIMAL:
    // the max-EQUALITY filter must compare exact values, and a double
    // sum is summation-order-dependent across engines (the o51
    // convention). The 1-row max is broadcast.
    "t17_top_supplier" -> ((s, d) => {
      val rev = lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1996-04-01")))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,4)") *
          (lit(1) - col("l_discount").cast("decimal(18,4)"))).as("tr"))
      val mx = rev.agg(max(col("tr")).as("mx"))
      rev.join(broadcast(mx), col("tr") === col("mx"))
        .join(broadcast(supplier(s, d).select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          round(col("tr"), 2).cast("double").as("total_revenue"))
        .orderBy("s_suppkey")
    }),

    // Q13 shape: histogram of a grouped count — distribution of
    // per-customer order counts (excluding urgent orders), customers
    // with zero orders included via the left outer join. The "group by
    // the result of a group by" double aggregation is Q13's point.
    "t16_order_count_distribution" -> ((s, d) =>
      customer(s, d).select(col("c_custkey"))
        .join(orders(s, d).filter(col("o_orderpriority") =!= "1-URGENT")
            .select(col("o_custkey"), col("o_orderkey")),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)),

    // Q8 shape: national market share — the share-of-total ratio over a
    // multi-dimensional join (fact ⋈ orders ⋈ customer-side snowflake to
    // region ⋈ part filter ⋈ supplier-side nation). Both the numerator
    // (conditional) and denominator sums run in DECIMAL and the ratio is
    // one double division of exact values, so the share cannot drift
    // with summation order. Fixed-size dims broadcast; the two fact-side
    // joins stay unhinted for AQE.
    "t18_market_share" -> ((s, d) => {
      val n = nation(s, d)
      val vol = lineitem(s, d)
        .join(orders(s, d)
            .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
              col("o_orderdate") < to_timestamp(lit("1998-01-01"))),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(part(s, d).filter(col("p_type") === "PROMO")
          .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"))
        .join(broadcast(customer(s, d).select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(n.select(col("n_nationkey").as("cn_key"),
          col("n_regionkey"))), col("c_nationkey") === col("cn_key"))
        .join(broadcast(region(s, d).filter(col("r_name") === "EUROPE")
          .select(col("r_regionkey"))), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n.select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("sn_key"))
        .select(year(col("o_orderdate")).cast("long").as("o_year"),
          (col("l_extendedprice").cast("decimal(18,4)") *
            (lit(1) - col("l_discount").cast("decimal(18,4)"))).as("volume"),
          col("supp_nation"))
      vol.groupBy(col("o_year"))
        .agg(Analytics.roundDouble(
          sum(when(col("supp_nation") === "NATION_3", col("volume"))).cast("double") /
            sum(col("volume")).cast("double"), 4).as("mkt_share"))
        .orderBy("o_year")
    }),

    // Q9 shape: product-type profit rollup — a name-filtered part scan
    // driving a multi-way join (lineitem ⋈ part ⋈ supplier ⋈ nation ⋈
    // orders) with a composed arithmetic measure, rolled up by nation
    // and order year. partsupp's supplycost is adapted to the part's
    // retail price; the measure runs entirely in DECIMAL.
    "t19_profit_rollup" -> ((s, d) =>
      lineitem(s, d)
        .join(broadcast(part(s, d)
            .filter(col("p_name").like("%gear%"))
            .select(col("p_partkey"), col("p_retailprice"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, d).select(col("n_nationkey"), col("n_name"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"),
          (col("l_extendedprice").cast("decimal(18,4)") *
            (lit(1) - col("l_discount").cast("decimal(18,4)")) -
            col("p_retailprice").cast("decimal(18,4)") *
              col("l_quantity").cast("decimal(18,4)")).as("amount"))
        .groupBy(col("nation"), col("o_year"))
        .agg(round(sum(col("amount")), 2).cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)),

    // Q11 shape: grouped value vs a GLOBAL scalar threshold — per-part
    // shipped value from one region's suppliers, kept only when it
    // exceeds a fixed fraction of the region's total (HAVING against a
    // scalar subquery over the SAME scope). Both sums are exact DECIMAL;
    // the single-row total is broadcast (a 1-row nested-loop join, the
    // t11 pattern).
    "t20_value_concentration" -> ((s, d) => {
      val asiaValue = lineitem(s, d)
        .join(broadcast(supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, d).select(col("n_nationkey"), col("n_regionkey"))),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")
          .select(col("r_regionkey"))), col("n_regionkey") === col("r_regionkey"))
        .select(col("l_partkey"),
          (col("l_extendedprice").cast("decimal(18,4)") *
            col("l_quantity").cast("decimal(18,4)")).as("v"))
      val byPart = asiaValue.groupBy(col("l_partkey")).agg(sum(col("v")).as("pv"))
      val total = asiaValue.agg(sum(col("v")).as("tv"))
      byPart.join(broadcast(total))
        .filter(col("pv").cast("double") > col("tv").cast("double") * 0.001)
        .select(col("l_partkey"), round(col("pv"), 2).cast("double").as("part_value"))
        .orderBy(col("part_value").desc, col("l_partkey"))
    }),

    // Q16 shape: NOT-IN exclusion + COUNT DISTINCT over a derived
    // part-supplier link (the testdata's partsupp is the distinct
    // (l_partkey, l_suppkey) projection of the fact). Suppliers in
    // deficit stand in for Q16's complaint filter; NOT IN on a non-null
    // key plans as a left-anti join, and the distinct count is per
    // (brand, type, size) group.
    "t21_supplier_part_types" -> ((s, d) => {
      val link = lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      link
        .join(broadcast(supplier(s, d).filter(col("s_acctbal") < 0)
          .select(col("s_suppkey"))), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .join(broadcast(part(s, d)
            .filter(col("p_brand") =!= "Brand#4" &&
              !col("p_type").like("MED%") &&
              col("p_size").isin(1, 4, 7, 10, 14, 19, 23, 29))
            .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    }),

    // Q20 shape: the nested semi-join chain — suppliers (in one nation)
    // who shipped a meaningful volume of a name-filtered part family in
    // one year: supplier ←semi← (part,supplier volumes HAVING qty>30)
    // ←semi← name-filtered parts. Each link prunes the next; nothing
    // widens. Quantities are integral, so the HAVING threshold compares
    // exact longs.
    "t22_qualified_suppliers" -> ((s, d) => {
      val qualified = lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")))
        .join(broadcast(part(s, d).filter(col("p_name").like("small%"))
          .select(col("p_partkey"))), col("l_partkey") === col("p_partkey"),
          "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("long")).as("qty"))
        .filter(col("qty") > 30)
      supplier(s, d)
        .join(qualified.select(col("l_suppkey")), col("s_suppkey") === col("l_suppkey"),
          "left_semi")
        .join(broadcast(nation(s, d).filter(col("n_name") === "NATION_5")
          .select(col("n_nationkey"))), col("s_nationkey") === col("n_nationkey"),
          "left_semi")
        .select(col("s_name"), Analytics.roundDouble(col("s_acctbal"), 2).as("s_acctbal"))
        .orderBy("s_name")
    })
  )

  def oracles: Map[String, String] = Map(
    "t10_large_volume" ->
      """WITH big AS (
        |  SELECT l_orderkey, SUM(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
        |SELECT c_name, c_custkey, o_orderkey,
        |       CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
        |       o_totalprice, total_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN big ON o_orderkey = l_orderkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    "t11_dormant_customers" ->
      """WITH thr AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
        |         / COUNT(*) AS v
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_mktsegment, COUNT(*) AS n_custs,
        |       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
        |         AS total_bal
        |FROM customer c, thr
        |WHERE c.c_acctbal > thr.v
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND CAST(o.o_orderdate AS TIMESTAMP) >= TIMESTAMP '2000-07-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "t12_cheapest_order" ->
      """WITH ow AS (
        |  SELECT n.n_name, o.o_orderkey, o.o_totalprice
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey)
        |SELECT n_name, o_orderkey, o_totalprice
        |FROM ow w
        |WHERE o_totalprice = (SELECT MIN(o_totalprice) FROM ow w2
        |                      WHERE w2.n_name = w.n_name)
        |ORDER BY n_name, o_orderkey""".stripMargin,

    "t13_priority_line_split" ->
      """SELECT l_linestatus,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01'
        |  AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,

    // threshold in exact integer arithmetic then one double division —
    // the same expression tree as the Spark side, so boundary rows
    // cannot flip between engines
    "t14_small_quantity_revenue" ->
      """WITH th AS (
        |  SELECT l_partkey,
        |         0.2 * CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
        |             / COUNT(*) AS qty_threshold
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) / 7.0, 2)
        |       AS DOUBLE) AS avg_yearly
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#4'
        |JOIN th ON th.l_partkey = lineitem.l_partkey
        |WHERE l_quantity < qty_threshold""".stripMargin,

    "t15_sole_returning_supplier" ->
      """WITH r AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey
        |  FROM lineitem WHERE l_returnflag = 'R')
        |SELECT s_name, COUNT(*) AS numwait
        |FROM r l1 JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    "t17_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |             (1 - CAST(l_discount AS DECIMAL(18,4)))) AS tr
        |  FROM lineitem
        |  WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01'
        |    AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(ROUND(tr, 2) AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON s_suppkey = l_suppkey
        |WHERE tr = (SELECT MAX(tr) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "t18_market_share" ->
      """WITH vol AS (
        |  SELECT year(CAST(o_orderdate AS TIMESTAMP)) AS o_year,
        |         CAST(l_extendedprice AS DECIMAL(18,4)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,4))) AS volume,
        |         sn.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |   AND CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01'
        |   AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1998-01-01'
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey)
        |SELECT o_year,
        |       ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume END) AS DOUBLE)
        |             / CAST(SUM(volume) AS DOUBLE), 4) AS mkt_share
        |FROM vol GROUP BY o_year ORDER BY o_year""".stripMargin,

    "t19_profit_rollup" ->
      """SELECT n_name AS nation,
        |       year(CAST(o_orderdate AS TIMESTAMP)) AS o_year,
        |       CAST(ROUND(SUM(
        |         CAST(l_extendedprice AS DECIMAL(18,4)) *
        |           (1 - CAST(l_discount AS DECIMAL(18,4))) -
        |         CAST(p_retailprice AS DECIMAL(18,4)) *
        |           CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY n_name, year(CAST(o_orderdate AS TIMESTAMP))
        |ORDER BY nation, o_year DESC""".stripMargin,

    "t20_value_concentration" ->
      """WITH av AS (
        |  SELECT l_partkey,
        |         CAST(l_extendedprice AS DECIMAL(18,4)) *
        |           CAST(l_quantity AS DECIMAL(18,4)) AS v
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA')
        |SELECT l_partkey, CAST(ROUND(SUM(v), 2) AS DOUBLE) AS part_value
        |FROM av GROUP BY l_partkey
        |HAVING CAST(SUM(v) AS DOUBLE) > CAST((SELECT SUM(v) FROM av) AS DOUBLE) * 0.001
        |ORDER BY part_value DESC, l_partkey""".stripMargin,

    "t21_supplier_part_types" ->
      """WITH link AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, p_size,
        |       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM link JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#4' AND p_type NOT LIKE 'MED%'
        |  AND p_size IN (1, 4, 7, 10, 14, 19, 23, 29)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "t22_qualified_suppliers" ->
      """WITH q AS (
        |  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS BIGINT)) AS qty
        |  FROM lineitem
        |  WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01'
        |    AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1997-01-01'
        |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |  GROUP BY l_partkey, l_suppkey
        |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 30)
        |SELECT s_name, ROUND(s_acctbal, 2) AS s_acctbal
        |FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM q)
        |  AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_5')
        |ORDER BY s_name""".stripMargin,

    "t16_order_count_distribution" ->
      """WITH c_orders AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM c_orders GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "t01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       ROUND(SUM(l_quantity), 2) AS sum_qty,
        |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE)
        |         AS sum_base_price,
        |       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE)
        |         AS sum_disc_price,
        |       ROUND(AVG(l_quantity), 2) AS avg_qty,
        |       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_discount), 4)
        |         AS avg_disc,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE CAST(l_shipdate AS TIMESTAMP) <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "t02_revenue_delta" ->
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount
        |                          AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1995-01-01'
        |  AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1996-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.05
        |  AND l_quantity < 24""".stripMargin,

    "t03_shipping_priority" ->
      """SELECT l.l_orderkey, CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
        |       o.o_orderpriority,
        |       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
        |                          AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND CAST(o.o_orderdate AS TIMESTAMP) < TIMESTAMP '1997-01-01'
        |  AND CAST(l.l_shipdate AS TIMESTAMP) > TIMESTAMP '1997-01-01'
        |GROUP BY l.l_orderkey, CAST(o.o_orderdate AS TIMESTAMP), o.o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "t04_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders o
        |WHERE CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01'
        |  AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1996-04-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND CAST(l.l_shipdate AS TIMESTAMP) >
        |          CAST(o.o_orderdate AS TIMESTAMP) + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "t05_local_supplier_volume" ->
      """SELECT n.n_name,
        |       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
        |                          AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |              AND s.s_nationkey = c.c_nationkey
        |WHERE r.r_name = 'ASIA'
        |  AND CAST(o.o_orderdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01'
        |  AND CAST(o.o_orderdate AS TIMESTAMP) < TIMESTAMP '1997-01-01'
        |GROUP BY n.n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "t06_returned_items" ->
      """SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
        |       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
        |                          AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE CAST(o.o_orderdate AS TIMESTAMP) >= TIMESTAMP '1996-01-01'
        |  AND CAST(o.o_orderdate AS TIMESTAMP) < TIMESTAMP '1996-04-01'
        |  AND l.l_returnflag = 'R'
        |GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "t07_promo_effect" ->
      """SELECT ROUND(
        |         100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
        |                          THEN CAST(l.l_extendedprice * (1 - l.l_discount)
        |                               AS DECIMAL(18,4))
        |                          ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |         / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
        |                         AS DECIMAL(18,4))) AS DOUBLE), 2) AS promo_revenue_pct
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE CAST(l.l_shipdate AS TIMESTAMP) >= TIMESTAMP '1996-09-01'
        |  AND CAST(l.l_shipdate AS TIMESTAMP) < TIMESTAMP '1996-10-01'""".stripMargin,

    "t08_nation_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |       CAST(EXTRACT(year FROM CAST(l.l_shipdate AS TIMESTAMP)) AS BIGINT)
        |         AS l_year,
        |       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
        |                          AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        |   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
        |GROUP BY sn.n_name, cn.n_name, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "t09_disjunctive_filter" ->
      """SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
        |                          AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
        |       AND l.l_quantity BETWEEN 1 AND 20)
        |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
        |       AND l.l_quantity BETWEEN 10 AND 35)""".stripMargin
  )
}
