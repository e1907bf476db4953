package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession, types}
import org.apache.spark.sql.functions._

/** Driver-contract registry for the Phase-2 incremental pipeline, CSV
  * ingestion, and catalog surface. The incremental demo executes the REAL
  * pipeline (landing explode → two incremental runs → tech-log repair)
  * once per JVM into `target/graft-incremental/`, and the queries check
  * its observable state against oracles computed from the base tables:
  * run 1 inserts everything exactly once, run 2 is a fingerprint-skip
  * no-op (idempotence — reference `README_FASE2.md:188-196`).
  */
object PipelineQueries {

  /** Run the full incremental demo once per (JVM, sfDir); returns its
    * root directory. run1/run2 reports are persisted as parquet so every
    * registry query is a plain deterministic read.
    */
  def ensureDemo(spark: SparkSession, sfDir: String): String =
    Workdirs.materializeOnce("graft-incremental", sfDir) { root =>
      Workdirs.delete(spark, root)
      val landing = s"$root/landing"
      val bronze = s"$root/bronze"
      Landing.explode(spark, sfDir, landing, periodFmt = "yyyy")
      val run1 = Incremental.run(spark, landing, bronze)
      val run2 = Incremental.run(spark, landing, bronze)
      Incremental.normalizeTechLog(spark, bronze)
      val note2 = Incremental.readTechLog(spark, bronze)
        .map(e => e.file_name -> e.note).toMap
      import spark.implicits._
      val summary = run1.map(e =>
          (e.file_name, e.status, e.rows_orders, e.rows_items, e.processed_at))
        .toDF("file_name", "run1_status", "run1_orders", "run1_items", "run1_at")
        .join(
          run2.map(e => (e.file_name, e.status, e.rows_orders, e.rows_items,
            e.processed_at,
            note2.getOrElse(e.file_name,
              sys.error(s"tech log lost entry for ${e.file_name}"))))
            .toDF("file_name", "run2_status", "run2_orders", "run2_items",
              "run2_at", "run2_note"),
          "file_name")
      summary.coalesce(1).write.mode("overwrite").parquet(s"$root/summary")
    }

  /** Write orders out as CSV once per (JVM, sfDir) for the round-trip
    * query; returns the CSV directory.
    */
  def ensureCsv(spark: SparkSession, sfDir: String): String =
    Workdirs.materializeOnce("graft-csv", sfDir) { dir =>
      Sources.writeCsv(Tables.orders(spark, sfDir), s"$dir/orders")
    } + "/orders"

  /** Orders written once per (JVM, sfDir) in an alternate columnar/row
    * format for the round-trip queries (`fmt` = "orc" | "json").
    */
  def ensureFormat(spark: SparkSession, sfDir: String, fmt: String): String =
    Workdirs.materializeOnce(s"graft-$fmt", sfDir) { dir =>
      Tables.orders(spark, sfDir).write.mode("overwrite")
        .format(fmt).save(s"$dir/orders")
    } + "/orders"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.10 end-to-end: per-file fingerprint skip, exactly-once appends,
    // idempotent rerun, tech-log upsert + S11 note repair
    "p01_incremental_runs" -> ((s, d) => {
      val root = ensureDemo(s, d)
      Tables.parquet(s, s"$root/summary").orderBy("file_name")
    }),

    // post-append bronze content: every order exactly once (J5 proof)
    "p02_incremental_bronze" -> ((s, d) => {
      val root = ensureDemo(s, d)
      val cols = Tables.orders(s, d).columns.map(col).toIndexedSeq
      Tables.parquet(s, s"$root/bronze/orders").select(cols: _*).orderBy("o_orderkey")
    }),

    // S1/S2/P10: CSV write → explicit-schema PERMISSIVE read round trip
    "p03_csv_roundtrip" -> ((s, d) => {
      val csvDir = ensureCsv(s, d)
      Sources.csv(s, csvDir, Tables.orders(s, d).schema).orderBy("o_orderkey")
    }),

    // S1 proper: the schema-INFERRED scan of the same CSV. The query
    // fails loudly if inference degrades a numeric/temporal column to
    // string (the cast-to-base-schema below would silently repair that,
    // so it must be guarded, not masked); the oracle then hash-checks
    // that the inferred read reproduces the base table's values exactly.
    "p05_csv_inferred" -> ((s, d) => {
      val csvDir = ensureCsv(s, d)
      val inferred = Sources.csvInferred(s, csvDir)
      val base = Tables.orders(s, d).schema
      base.foreach { f =>
        val got = inferred.schema(f.name).dataType
        val ok = (f.dataType, got) match {
          case (_: types.NumericType, g) => g.isInstanceOf[types.NumericType]
          // either timestamp flavor counts as "inferred temporal" — NTZ vs
          // LTZ depends on session conf, and the cast below normalizes it
          case (types.TimestampType | types.TimestampNTZType, g) =>
            g == types.TimestampType || g == types.TimestampNTZType
          case (e, g) => e == g
        }
        require(ok, s"inference degraded ${f.name}: expected ${f.dataType}, got $got")
      }
      inferred
        .select(base.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
        .orderBy("o_orderkey")
    }),

    // S13/S14: DESCRIBE as a relational result
    "p04_describe" -> ((s, d) =>
      Catalog.describe(Tables.lineitem(s, d)).orderBy("col")),

    // ORC round-trip: the second columnar format next to parquet — write
    // once per JVM, read back, hash-match the base table (same oracle
    // shape as p03/p05)
    "p06_orc_roundtrip" -> ((s, d) =>
      s.read.orc(ensureFormat(s, d, "orc")).orderBy("o_orderkey")),

    // JSON-lines round-trip with an explicit schema (the row format the
    // manifest already uses, here over a full table): doubles and ISO
    // timestamps must survive the text round trip exactly
    "p07_jsonl_roundtrip" -> ((s, d) =>
      s.read.schema(Tables.orders(s, d).schema)
        .json(ensureFormat(s, d, "json")).orderBy("o_orderkey")),

    // J4, repaired: fact ⋈ dim_time at DATE grain (the reference's own
    // test joins raw timestamps against the daily dim — a grain mismatch
    // SURVEY §5 documents; this is the corrected join) → revenue by
    // year/quarter
    "o34_dim_time_join" -> ((s, d) =>
      Gold.fact(s, d)
        .withColumn("order_date", col("order_purchase_timestamp").cast("date"))
        .join(Gold.dimDate(s, d), "order_date")
        .groupBy(col("year"), col("quarter"))
        // the fact's DECIMAL(18,4) money sums exactly and association-
        // order-free, so the 2-decimal round can't flip between engines
        // at larger SF
        .agg(round(sum(col("price")), 2)
          .cast("double").as("revenue"))
        .orderBy("year", "quarter")),

    // as-of join: each event matched to its user's latest order at-or-
    // before the event time (right side deduped per key+ts for tie
    // determinism); oracle = DuckDB's native ASOF JOIN
    "o32_asof_join" -> ((s, d) => {
      val ordersDedup = Tables.orders(s, d)
        .groupBy(col("o_custkey"), col("o_orderdate").cast("timestamp").as("ots"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      AsOf.join(
        Tables.events(s, d).select("event_id", "user_id", "ts"),
        ordersDedup,
        keyCols = ("user_id", "o_custkey"), tsCols = ("ts", "ots"),
        payloadCol = "o_orderkey")
        .select(col("event_id"), col("o_orderkey"))
        .orderBy("event_id")
    }),

    // range join (no equi-key): ship dates falling inside sparse 7-day
    // order windows, binned to an equi-join on the bin id
    "o33_range_join" -> ((s, d) => {
      val intervals = Tables.orders(s, d)
        .filter(col("o_orderkey") % 1000 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_orderdate").cast("timestamp").as("w_start"),
          (col("o_orderdate").cast("timestamp") + expr("INTERVAL 7 DAYS")).as("w_end"))
      val points = Tables.lineitem(s, d)
        .select(col("l_shipdate").cast("timestamp").as("ship_ts"))
      RangeJoin.pointInInterval(points, intervals, "ship_ts", "w_start", "w_end")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")
    }),

    // S4: glob parquet scan (reference test.py:7 read_parquet('..._*.parquet'))
    "o31_glob_scan" -> ((s, d) =>
      Tables.parquet(s, s"$d/order*.parquet")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus")),

    // sliding event-time windows (1h window, 30min slide) — the batch
    // twin of the streaming windowed agg; each event lands in exactly 2
    // windows, epoch-aligned identically to DuckDB time_bucket
    "o36_sliding_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,4)")), 2).cast("double")
            .as("total_value")) // decimal money sum: order-free round
        .select(col("window.start").as("window_start"),
          col("n_events"), col("total_value"))
        .orderBy("window_start")),

    // exact interpolated percentiles, computed as DISTRIBUTED selection
    // (histogram → range-partitioned sorted counts → broadcast offsets →
    // position lookup, see Percentiles.exactByKey) instead of the
    // built-in `percentile`'s per-group value buffer — same bit-exact
    // answer as Spark `percentile` / DuckDB `quantile_cont` (equivalence
    // locked in PercentileSpec), without the one plan the round-4 audit
    // flagged as a 100 TB executor-OOM. x04 remains the sketch twin.
    "o35_percentiles" -> ((s, d) =>
      Percentiles.exactByKey(Tables.lineitem(s, d),
          "l_returnflag", "l_extendedprice",
          ps = Seq(0.5, 0.9), outNames = Seq("median_price", "p90_price"))
        .orderBy("l_returnflag")),

    // the SCALE-SAFE percentile twin: approx_percentile keeps a bounded
    // mergeable quantile sketch per group (Greenwald-Khanna summaries —
    // memory is O(accuracy), never O(group size)), so it survives groups
    // that would OOM the exact per-group value buffer at 100 TB.
    // Rows-only like x03 (the sketch's answer is engine-specific); its
    // error vs exact o35 is bounded and asserted in PercentileSpec.
    "x04_approx_percentiles" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(l_extendedprice, array(0.5D, 0.9D), 10000)")
          .as("ps"))
        .select(col("l_returnflag"),
          col("ps").getItem(0).as("median_price"),
          col("ps").getItem(1).as("p90_price"))
        .orderBy("l_returnflag")),

    // KMV in its EXACT regime (the o44 pattern applied to the distinct
    // sketch): below k distinct hashes the bottom-k buffer IS the
    // distinct set, so the estimate equals COUNT(DISTINCT) — which the
    // oracle pins. x03 covers the approximate regime (also hash-checked,
    // via the portable-hash oracle).
    "o50_kmv_exact" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(graft.functions.KmvSketch.approxDistinct(
          xxhash64(col("o_orderpriority")), k = 256).as("n_priorities"))
        .orderBy("o_orderstatus")),

    // bucketed star join (Bucketing.bucketedStar): both sides hash-
    // bucketed AND sorted on customer_id at write time, so the fact ⋈
    // dim sort-merge join and the per-customer aggregate above it run
    // with ZERO shuffle Exchanges (asserted at the plan level in
    // PlanAuditSpec) — the 100 TB deployment shape where the fact's join
    // shuffle is paid once at layout time, not per query. hint("merge")
    // pins the sort-merge path so a small dim can't flip the plan to
    // broadcast and mask the bucketing proof. Decimal sums keep the
    // revenue order-free exact across bucket counts.
    "o51_bucketed_star" -> ((s, d) => {
      val (factT, dimT) = Bucketing.bucketedStar(s, d)
      s.table(factT)
        .join(s.table(dimT).hint("merge"), "customer_id")
        .groupBy(col("customer_id"), col("customer_state"))
        .agg(
          count(lit(1)).as("line_count"),
          round(sum(col("price") + col("freight_value")), 2).cast("double")
            .as("revenue"))
        .orderBy(col("revenue").desc, col("customer_id"))
        .limit(20)
    }),

    // Skew rehearsal promoted into the registry (round-12): a
    // deterministic "one celebrity key" fact — rows where
    // (l_orderkey + l_linenumber) % 3 == 0 (portable arithmetic, the
    // oracle replays it) are remapped onto the smallest order key, so
    // one key owns ~1/3 of the fact — joined to orders and rolled up.
    // The pre-join repartition(24) is the rehearsal's point, not an
    // accident: AQE's skew split slices a hot reduce partition along
    // MAP-OUTPUT boundaries, so the skewed side must arrive from many
    // mappers (a single-file scan is one mapper and the hot partition
    // is one indivisible block — the split silently cannot happen).
    // The result is split-invariant; PlanAuditSpec EXECUTES this query
    // under rehearsal-scaled thresholds and asserts the executed plan
    // carries isSkewJoin plus >1 partial-reducer slice. DECIMAL sum
    // keeps the revenue identical across however many slices the
    // runtime decides on.
    "o52_skew_join_rehearsal" -> ((s, d) => {
      val hot = broadcast(Tables.orders(s, d).agg(min(col("o_orderkey")).as("hk")))
      Tables.lineitem(s, d)
        .crossJoin(hot)
        .withColumn("sk_orderkey",
          when(pmod(col("l_orderkey") + col("l_linenumber"), lit(3)) === 0,
            col("hk")).otherwise(col("l_orderkey")))
        .repartition(24)
        .join(Tables.orders(s, d), col("sk_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("line_count"),
          round(sum(col("l_extendedprice").cast("decimal(18,4)")), 2)
            .cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // bottom-k-by-hash sampled percentiles: approximate quantiles from a
    // fixed-size mergeable buffer like x04, but the sample membership is
    // a deterministic function of the portable row hash — so unlike the
    // GK sketch the estimate is exactly reproducible in SQL and this
    // query is hash-checked despite being approximate. k=1024 on ~20k-row
    // groups at sf0.01: genuinely approximate regime, rank error
    // O(1/sqrt(k)).
    "x06_sampled_percentiles" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(graft.functions.BottomKSample.percentiles(
            graft.functions.GraftFunctions.md5Hash64(
              concat(col("l_orderkey").cast("string"), lit("|"),
                col("l_linenumber").cast("string"))),
            col("l_extendedprice"), k = 1024, ps = Seq(0.5, 0.9)).as("qs"))
        .select(col("l_returnflag"),
          col("qs").getItem(0).as("median_price_est"),
          col("qs").getItem(1).as("p90_price_est"))
        .orderBy("l_returnflag")),

    // KMV sketch aggregator in its APPROXIMATE regime, yet hash-checked:
    // the estimate is a deterministic function of the bottom-256 distinct
    // hashes, so feeding the PORTABLE md5 hash (instead of JVM-only
    // xxhash64) lets the DuckDB oracle recompute the identical estimate —
    // same kth-smallest unsigned hash, same IEEE double fraction, same
    // floor(x+0.5) rounding. Distinct customers per priority, estimate
    // next to the exact.
    "x03_sketch_distinct" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_custkey")).as("exact_customers"),
          graft.functions.KmvSketch.approxDistinct(
            graft.functions.GraftFunctions.md5Hash64(
              col("o_custkey").cast("string")), k = 256).as("approx_customers"))
        .orderBy("o_orderpriority")),

    // J6: composite-key anti-join — items with no (order_id, line_id)
    // match in the gold fact (= items of non-delivered orders)
    "o29_anti_join_composite" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Gold.fact(s, d).select(
          col("order_id").as("l_orderkey"), col("line_id").as("l_linenumber")),
          Seq("l_orderkey", "l_linenumber"), "left_anti")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")),

    // running cumulative revenue per state (window FRAME coverage: ROWS
    // UNBOUNDED PRECEDING..CURRENT ROW over a partitioned, ordered
    // monthly series; the frame input is the pre-aggregated monthly grain
    // so the window shuffles |states|×|months| rows, never fact rows)
    "o38_running_total" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val monthly = Gold.fact(s, d)
        .join(Gold.dimCustomer(s, d)
          .select(col("c_custkey"), col("customer_state")),
          col("customer_id") === col("c_custkey"))
        .groupBy(col("customer_state"),
          date_format(col("order_purchase_timestamp"), "yyyy-MM").as("month"))
        .agg(sum(col("price")).as("rev"))
      monthly
        .withColumn("cum_revenue", sum(col("rev")).over(
          Window.partitionBy(col("customer_state")).orderBy(col("month"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("customer_state"), col("month"),
          round(col("rev"), 2).cast("double").as("revenue"),
          round(col("cum_revenue"), 2).cast("double").as("cum_revenue"))
        .orderBy("customer_state", "month")
    }),

    // month-over-month revenue delta (LAG over the ordered monthly
    // series — 79 rows post-aggregation, so the single-partition window
    // is a non-issue; the aggregation below it is the distributed part)
    "o39_mom_delta" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val monthly = Gold.fact(s, d)
        .groupBy(date_format(col("order_purchase_timestamp"), "yyyy-MM").as("month"))
        .agg(sum(col("price")).as("rev"))
      monthly
        .withColumn("prev_rev", lag(col("rev"), 1).over(Window.orderBy(col("month"))))
        .select(col("month"),
          round(col("rev"), 2).cast("double").as("revenue"),
          round(col("prev_rev"), 2).cast("double").as("prev_revenue"),
          round(col("rev") - col("prev_rev"), 2).cast("double").as("mom_delta"))
        .orderBy("month")
    }),

    // skew-safe two-level salted aggregation (Skew.saltedSum): content-
    // derived salt spreads a hot GROUP BY key over `salts` reducers;
    // result must equal the plain single-level GROUP BY the oracle runs.
    // Decimal input makes both levels' sums order-free exact.
    "o40_salted_agg" -> ((s, d) =>
      Skew.saltedSum(
        Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_quantity").cast("decimal(18,4)").as("qty")),
        "l_returnflag", "qty", salts = 8)
        .select(col("l_returnflag"),
          round(col("sum_qty"), 2).cast("double").as("sum_qty"))
        .orderBy("l_returnflag")),

    // CUBE + GROUPING flags (rollup's sibling, one shuffle with grouping-
    // id expansion): explicit NULLS LAST on both engines — Spark defaults
    // ASC to NULLS FIRST, DuckDB to NULLS LAST, and the subtotal rows'
    // null keys would otherwise sort differently. Quantity sums run in
    // DECIMAL(18,4) for order-free cross-engine exactness.
    "o37_cube" -> ((s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("cnt"),
          round(sum(col("l_quantity").cast("decimal(18,4)")), 2).cast("double")
            .as("sum_qty"),
          grouping(col("l_returnflag")).cast("long").as("g_rf"),
          grouping(col("l_linestatus")).cast("long").as("g_ls"))
        .orderBy(col("g_rf"), col("g_ls"),
          col("l_returnflag").asc_nulls_last, col("l_linestatus").asc_nulls_last)),

    // explicit GROUPING SETS (the third grouping-family flavor next to
    // rollup o16 / cube o37): a hand-picked lattice — (status, priority),
    // (status), () — that is neither a rollup prefix chain nor a full
    // cube. NULLS LAST pinned on both engines (Spark defaults NULLS
    // FIRST, DuckDB NULLS LAST).
    "o43_grouping_sets" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("o43_orders")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
          |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
          |            AS DOUBLE) AS total
          |FROM o43_orders
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          |                        (o_orderstatus), ())
          |ORDER BY o_orderstatus ASC NULLS LAST,
          |         o_orderpriority ASC NULLS LAST""".stripMargin)
    }),

    // Misra-Gries heavy hitters in its EXACT regime: k(=64) exceeds the
    // distinct count of o_orderpriority, so the mergeable sketch holds
    // every counter and the output equals plain COUNT(*) GROUP BY —
    // which is exactly what the oracle pins. The approximate regime
    // (evictions) is x05 + SketchSpec.
    "o44_heavyhitters_exact" -> ((s, d) =>
      Tables.orders(s, d)
        .agg(graft.functions.HeavyHitters.topTerms(col("o_orderpriority"), k = 64)
          .as("hh"))
        .select(explode(arrays_zip(col("hh.keys"), col("hh.counts"))).as("e"))
        .select(col("e.keys").as("o_orderpriority"), col("e.counts").as("cnt"))
        .orderBy(col("cnt").desc, col("o_orderpriority"))),

    // heavy hitters in the approximate regime: MG(k=32) over the token
    // stream of all documents (far more than 32 distinct terms ⇒ real
    // evictions). Counter survival depends on partial-agg order ⇒
    // rows-only, like x03; the frequency bounds are property-tested in
    // SketchSpec against the exact counts.
    "x05_heavy_hitters" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("term"))
        .agg(graft.functions.HeavyHitters.topTerms(col("term"), k = 32).as("hh"))
        .select(explode(arrays_zip(col("hh.keys"), col("hh.counts"))).as("e"))
        .select(col("e.keys").as("term"), col("e.counts").as("est"))
        .orderBy(col("est").desc, col("term"))
        .limit(10))
  )

  def oracles: Map[String, String] = Map(
    "p01_incremental_runs" ->
      """WITH ord AS (
        |  SELECT 'orders_' || strftime(o_orderdate, '%Y') AS file_name,
        |         COUNT(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |it AS (
        |  SELECT 'orders_' || strftime(o.o_orderdate, '%Y') AS file_name,
        |         COUNT(*) AS n_items
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey GROUP BY 1)
        |SELECT ord.file_name, 'OK' AS run1_status, ord.n_orders AS run1_orders,
        |       COALESCE(it.n_items, 0) AS run1_items,
        |       TIMESTAMP '2024-01-01 01:00:00' AS run1_at,
        |       'SKIP' AS run2_status, CAST(0 AS BIGINT) AS run2_orders,
        |       CAST(0 AS BIGINT) AS run2_items,
        |       TIMESTAMP '2024-01-01 02:00:00' AS run2_at,
        |       'unchanged' AS run2_note
        |FROM ord LEFT JOIN it USING (file_name)
        |UNION ALL
        |SELECT 'customer_full', 'OK', (SELECT COUNT(*) FROM customer), 0,
        |       TIMESTAMP '2024-01-01 01:00:00',
        |       'SKIP', 0, 0, TIMESTAMP '2024-01-01 02:00:00', 'unchanged'
        |UNION ALL
        |SELECT 'part_full', 'OK', (SELECT COUNT(*) FROM part), 0,
        |       TIMESTAMP '2024-01-01 01:00:00',
        |       'SKIP', 0, 0, TIMESTAMP '2024-01-01 02:00:00', 'unchanged'
        |ORDER BY file_name""".stripMargin,

    "p02_incremental_bronze" ->
      """SELECT * FROM orders ORDER BY o_orderkey""",

    "p03_csv_roundtrip" ->
      """SELECT * FROM orders ORDER BY o_orderkey""",

    // same target as p03 on purpose: both round trips must converge on
    // the base table, p03 through an explicit schema, p05 through
    // inference (the inference itself is guarded inside the query)
    "p05_csv_inferred" ->
      """SELECT * FROM orders ORDER BY o_orderkey""",

    "p06_orc_roundtrip" ->
      """SELECT * FROM orders ORDER BY o_orderkey""",

    "p07_jsonl_roundtrip" ->
      """SELECT * FROM orders ORDER BY o_orderkey""",

    "p04_describe" ->
      """SELECT column_name AS col, column_type AS dtype
        |FROM (DESCRIBE lineitem) ORDER BY col""".stripMargin,

    "o31_glob_scan" ->
      """SELECT o_orderstatus, COUNT(*) AS cnt FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "o36_sliding_window" ->
      """SELECT start AS window_start, COUNT(*) AS n_events,
        |       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
        |         AS total_value
        |FROM (SELECT unnest([time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)),
        |                     time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
        |                       - INTERVAL '30 minutes']) AS start,
        |             value
        |      FROM events)
        |GROUP BY 1 ORDER BY window_start""".stripMargin,

    "o35_percentiles" ->
      """SELECT l_returnflag,
        |       quantile_cont(l_extendedprice, 0.5) AS median_price,
        |       quantile_cont(l_extendedprice, 0.9) AS p90_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "o34_dim_time_join" ->
      s"""WITH fact AS (${MedallionQueries.factSql}),
         |dim_time AS (
         |  SELECT order_date,
         |         CAST(EXTRACT(year FROM order_date) AS BIGINT) AS year,
         |         CAST(EXTRACT(quarter FROM order_date) AS BIGINT) AS quarter
         |  FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date FROM orders))
         |SELECT t.year, t.quarter,
         |       CAST(ROUND(SUM(CAST(f.price AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
         |FROM fact f
         |JOIN dim_time t ON CAST(f.order_purchase_timestamp AS DATE) = t.order_date
         |GROUP BY t.year, t.quarter
         |ORDER BY year, quarter""".stripMargin,

    "o33_range_join" ->
      """SELECT o.o_orderpriority, COUNT(*) AS cnt
        |FROM orders o
        |JOIN lineitem l
        |  ON CAST(l.l_shipdate AS TIMESTAMP)
        |     BETWEEN CAST(o.o_orderdate AS TIMESTAMP)
        |         AND CAST(o.o_orderdate AS TIMESTAMP) + INTERVAL 7 DAY
        |WHERE o.o_orderkey % 1000 = 0
        |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin,

    "o32_asof_join" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP) AS ots,
        |         MAX(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, o.o_orderkey
        |FROM events e ASOF JOIN o
        |  ON e.user_id = o.o_custkey AND CAST(e.ts AS TIMESTAMP) >= o.ots
        |ORDER BY event_id""".stripMargin,

    "o29_anti_join_composite" ->
      s"""WITH fact AS (${MedallionQueries.factSql})
         |SELECT l.l_returnflag, COUNT(*) AS cnt
         |FROM lineitem l
         |WHERE NOT EXISTS (SELECT 1 FROM fact f
         |                  WHERE f.order_id = l.l_orderkey
         |                    AND f.line_id = l.l_linenumber)
         |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin,

    "o38_running_total" ->
      s"""WITH fact AS (${MedallionQueries.factSql}),
         |dim AS (
         |  SELECT c_custkey, n_name AS customer_state
         |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
         |monthly AS (
         |  SELECT d.customer_state,
         |         strftime(f.order_purchase_timestamp, '%Y-%m') AS month,
         |         SUM(CAST(f.price AS DECIMAL(18,4))) AS rev
         |  FROM fact f JOIN dim d ON f.customer_id = d.c_custkey
         |  GROUP BY 1, 2)
         |SELECT customer_state, month,
         |       CAST(ROUND(rev, 2) AS DOUBLE) AS revenue,
         |       CAST(ROUND(SUM(rev) OVER (
         |              PARTITION BY customer_state ORDER BY month
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         |            AS DOUBLE) AS cum_revenue
         |FROM monthly ORDER BY customer_state, month""".stripMargin,

    "o39_mom_delta" ->
      s"""WITH fact AS (${MedallionQueries.factSql}),
         |monthly AS (
         |  SELECT strftime(order_purchase_timestamp, '%Y-%m') AS month,
         |         SUM(CAST(price AS DECIMAL(18,4))) AS rev
         |  FROM fact GROUP BY 1)
         |SELECT month,
         |       CAST(ROUND(rev, 2) AS DOUBLE) AS revenue,
         |       CAST(ROUND(LAG(rev, 1) OVER (ORDER BY month), 2) AS DOUBLE)
         |         AS prev_revenue,
         |       CAST(ROUND(rev - LAG(rev, 1) OVER (ORDER BY month), 2) AS DOUBLE)
         |         AS mom_delta
         |FROM monthly ORDER BY month""".stripMargin,

    "o40_salted_agg" ->
      """SELECT l_returnflag,
        |       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
        |         AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "o37_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        |       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
        |         AS sum_qty,
        |       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        |       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag ASC NULLS LAST,
        |         l_linestatus ASC NULLS LAST""".stripMargin,

    "o43_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
        |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
        |            AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), ())
        |ORDER BY o_orderstatus ASC NULLS LAST,
        |         o_orderpriority ASC NULLS LAST""".stripMargin,

    "o44_heavyhitters_exact" ->
      """SELECT o_orderpriority, COUNT(*) AS cnt
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY cnt DESC, o_orderpriority""".stripMargin,

    "o50_kmv_exact" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_orderpriority) AS n_priorities
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // the sampled-percentile oracle selects the IDENTICAL sample (same
    // portable row hash, same unsigned (hash, value) order, same k) and
    // finishes it with quantile_cont — whose interpolation arithmetic is
    // bit-identical to BottomKSample.finish (the o35/PercentileSpec
    // equivalence)
    "x06_sampled_percentiles" ->
      """WITH h AS (
        |  SELECT l_returnflag,
        |         CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|' ||
        |                                  CAST(l_linenumber AS VARCHAR)), 17, 16)) AS UBIGINT) AS u,
        |         l_extendedprice AS v
        |  FROM lineitem),
        |s AS (
        |  SELECT l_returnflag, v,
        |         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY u, v) AS rn
        |  FROM h)
        |SELECT l_returnflag,
        |       quantile_cont(v, 0.5) AS median_price_est,
        |       quantile_cont(v, 0.9) AS p90_price_est
        |FROM s WHERE rn <= 1024
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // KMV estimate recomputed from scratch in SQL: same portable hash
    // (md5 bytes 8..15 big-endian, unsigned), same kth-smallest-of-256
    // selection, same IEEE arithmetic as KmvSketch.finish — fraction =
    // (u - 2^63) as double / 2^64 + 0.5 (the aggregator's sign-flipped
    // buffer order IS unsigned order), estimate = floor(255/fraction +
    // 0.5) (Scala math.round). Below 256 distinct hashes the buffer is
    // the distinct set, estimate = count.
    "x03_sketch_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT o_orderpriority,
        |         CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 17, 16)) AS UBIGINT) AS u
        |  FROM orders),
        |r AS (
        |  SELECT o_orderpriority, u,
        |         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY u) AS rn,
        |         COUNT(*) OVER (PARTITION BY o_orderpriority) AS nd
        |  FROM h),
        |est AS (
        |  SELECT o_orderpriority,
        |         CASE WHEN nd < 256 THEN nd
        |              ELSE CAST(FLOOR(255.0 / (
        |                     CAST(CAST(u AS HUGEINT) - 9223372036854775808 AS DOUBLE)
        |                     / 1.8446744073709552e19 + 0.5) + 0.5) AS BIGINT)
        |         END AS approx_customers
        |  FROM r
        |  WHERE rn = CASE WHEN nd < 256 THEN nd ELSE 256 END),
        |ex AS (
        |  SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS exact_customers
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT ex.o_orderpriority, ex.exact_customers, est.approx_customers
        |FROM ex JOIN est USING (o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin,

    "o51_bucketed_star" ->
      s"""WITH fact AS (${MedallionQueries.factSql}),
         |dim AS (
         |  SELECT c.c_custkey AS customer_id, n.n_name AS customer_state
         |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)
         |SELECT f.customer_id, d.customer_state,
         |       COUNT(*) AS line_count,
         |       CAST(ROUND(SUM(CAST(f.price AS DECIMAL(18,4)) +
         |                      CAST(f.freight_value AS DECIMAL(18,4))), 2)
         |            AS DOUBLE) AS revenue
         |FROM fact f JOIN dim d ON f.customer_id = d.customer_id
         |GROUP BY 1, 2
         |ORDER BY revenue DESC, f.customer_id
         |LIMIT 20""".stripMargin,

    "o52_skew_join_rehearsal" ->
      """WITH sk AS (
        |  SELECT CASE WHEN (l_orderkey + l_linenumber) % 3 = 0
        |              THEN (SELECT MIN(o_orderkey) FROM orders)
        |              ELSE l_orderkey END AS sk_orderkey,
        |         l_extendedprice
        |  FROM lineitem)
        |SELECT o_orderpriority,
        |       CAST(COUNT(*) AS BIGINT) AS line_count,
        |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
        |            AS DOUBLE) AS revenue
        |FROM sk JOIN orders ON sk_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin
  )
}
