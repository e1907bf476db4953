package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized medallion layers (the reference's CTAS persistence —
  * `etl/tasks/silver.py:29-62`, `etl/tasks/gold.py:12-65` — SURVEY §2.1
  * S5/S6): silver + gold are written to parquet ONCE per (JVM, sfDir) and
  * every analytics/SQL query reads the written layer back instead of
  * re-deriving it from base scans.
  *
  * Scale posture: this is the single biggest 100 TB lever in the repo —
  * the orders⋈lineitem fact shuffle happens once per pipeline run, not
  * once per query. The fact is hive-partitioned on a calendar period
  * column `order_period` (reference landing zone
  * `scripts/esplosione_dati.py:135-154` partitions by month), so any
  * query filtering on the period gets partition pruning; `repartition`
  * by the partition column + a bounded hash salt before the write keeps
  * file count at ≤fanout per period while still writing hot periods from
  * multiple tasks in parallel.
  *
  * BOTH period grain and fan-out are sized from the data, because each
  * fails in one direction when fixed (round 17): real lakehouse
  * partition-layout guidance is partition SIZE targets, not a fixed
  * calendar grain. Month grain on a long-history corpus (the
  * time-shifted rehearsal: 7,900 months at sf10) shattered the fact
  * into 7,900 tiny files — measured +17 s of footer/listing overhead on
  * EVERY fact scan. [[periodGrain]] picks month only when an average
  * month holds [[fanoutRowFloor]] lineitems and the month count stays
  * under [[maxPartitions]], else year; [[adaptiveFanout]] adds writer
  * tasks per partition only above the same row floor. At the gate
  * scales (sf0.001–sf0.1: at most 600k lineitems over 79 months) the
  * fact is year-partitioned with one file per year; the reference's
  * month-partitioned, 4-way-salted layout is what a corpus with 250k+
  * lineitems per month gets.
  *
  * Every table is read back through [[Tables.parquet]], like the raw
  * inputs, so building a query over gold starts no Spark job (inference
  * is one job per read); the fact's `order_period` reads back as Spark's
  * partition discovery types it (int for a yearly grain), and every
  * reader projects it away.
  */
object Gold {

  /** Write-side fan-out CAP per hive partition: each partition value
    * lands in up to this many tasks/files. Sized small here (local[32],
    * sf≤0.1); on a real cluster size it to executor-count /
    * distinct-partitions so the hottest partition saturates the cluster
    * without file explosion.
    */
  val writeFanout = 4

  /** Rows above which a hive partition earns a second writer task. The
    * fan-out exists to parallelize HOT partitions; a partition below
    * this floor is one comfortably-sized file, and salting it anyway
    * just multiplies tiny files (round 17: the time-shifted rehearsal
    * has factor× more, proportionally smaller months — 790 at sf1 —
    * and a fixed 4-way salt turned them into 3 160 files, visible as
    * +2 s on every fact-reading query and 8× slower layer setup).
    */
  val fanoutRowFloor = 250000L

  /** Fan-out for a table of `rows` spread over ~`partitions` hive
    * partitions: 1 until the average partition clears
    * [[fanoutRowFloor]], then one extra writer per floor-multiple, capped
    * at [[writeFanout]]. At 100 TB (billions of rows per month) this
    * saturates the cap; on a small-or-long-history corpus it collapses
    * to one right-sized file per partition.
    */
  def adaptiveFanout(rows: Long, partitions: Long): Int =
    math.max(1L, math.min(writeFanout.toLong,
      rows / math.max(1L, partitions) / fanoutRowFloor + 1)).toInt

  /** Hive-partition count cap for the gold fact: beyond it, coarsen the
    * calendar grain instead of shattering the table (hive partitioning
    * writes ≥1 file per partition value, so partition count is a FILE
    * COUNT floor, and every scan pays a footer read per file).
    */
  val maxPartitions = 256L

  /** Calendar grain for `rows` lineitems over `months` distinct order
    * months: month while an average month holds at least
    * [[fanoutRowFloor]] rows and the partition count stays sane, else
    * year (a month below the floor is a tiny file, and each file costs
    * every scan a footer read). Returns the date_format pattern for the
    * `order_period` partition column.
    */
  def periodGrain(months: Long, rows: Long): String =
    if (months <= maxPartitions && rows / math.max(1L, months) >= fanoutRowFloor) "yyyy-MM"
    else "yyyy"

  /** The one salted partitioned-write shape (used by the gold fact and
    * both landing splits, asserted in GoldSpec): pure
    * `repartition(partCol)` serializes each hive partition through ONE
    * task — at 100 TB a hot partition is a write bottleneck. Hash-salting
    * on the row key fans every partition across up to `fanout`
    * tasks while keeping file count bounded at fanout-per-partition
    * (vs tasks x partitions unsalted).
    */
  def saltedPartitionedWrite(df: DataFrame, partCol: String,
                             saltKey: Column, dir: String,
                             fanout: Int = writeFanout): Unit = {
    val repart =
      if (fanout <= 1) df.repartition(col(partCol))
      else df.repartition(col(partCol), pmod(hash(saltKey), lit(fanout)))
    repart.write.mode("overwrite").partitionBy(partCol).parquet(dir)
  }

  /** Write silver + gold parquet for sfDir if this JVM hasn't yet; returns
    * the layer root (under the build dir, never the read-only testdata).
    * Thread-safe; runs at most once per (JVM, sfDir).
    */
  def ensure(spark: SparkSession, sfDir: String): String =
    Workdirs.materializeOnce("graft-layers", sfDir) { dir =>
      import scala.concurrent.Future
      import scala.concurrent.ExecutionContext.Implicits.global
      // fail-fast quality gate between bronze and silver (§2.11): one
      // aggregation pass per table; a violation aborts the whole
      // materialization before anything is written. The gated silvers
      // are cached — each feeds its own write AND the fact build.
      // Round 21 (setup-cost item): persist is marked BEFORE the gate and
      // the layout-sizing statistics ride the gate's own aggregation
      // (gateWith extras), so ONE pass per table gates, fills the cache,
      // and sizes the layout — previously the gate scanned the raw
      // frame, then a separate countDistinct/count pass per table filled
      // the cache: two full passes per silver, four jobs instead of two
      // (at sf10 the silvers are tens of millions of rows; every saved
      // pass is real setup wall-clock).
      val orders = Tables.orders(spark, sfDir) // feeds silver and dim_time
      val so = Medallion.silverOrders(orders).persist()
      val sl = Medallion.silverLineitem(Tables.lineitem(spark, sfDir)).persist()
      // released on every exit, a failed gate included: a cached silver
      // outliving its materialization would pin memory for the session
      try {
        val soStats = Quality.gateWith(so, Quality.orderChecks,
          Seq(countDistinct(date_format(col("o_orderdate"), "yyyy-MM"))
            .cast("long").as("__months")))
        val slStats = Quality.gateWith(sl, Quality.lineitemChecks, Nil)
        // size the fact's layout from the gate rows (zero extra passes):
        // distinct order months and the lineitem count (the gate's own
        // __rows counter) pick the calendar grain and, over the grain's
        // partition count, the fan-out — hot periods fan out, tiny ones
        // don't shatter into salt-files
        val months = math.max(1L, soStats.getAs[Long]("__months"))
        val items = slStats.getLong(0)
        val grain = periodGrain(months, items)
        val periods =
          if (grain == "yyyy-MM") months else math.max(1L, months / 12)
        val factFanout = adaptiveFanout(items, periods)
        val fact = Medallion.factSales(so, sl)
          .withColumn("order_period",
            date_format(col("order_purchase_timestamp"), grain))
        // the dims' source reads run inside their futures
        def write(table: String, df: => DataFrame,
                  save: (DataFrame, String) => Unit = _.write.mode("overwrite").parquet(_)) =
          Future(save(df, s"$dir/$table"))
        // the six layer writes are independent of each other — submit them
        // as concurrent Spark jobs (FIFO-scheduled over the same executor
        // pool) instead of serially leaving the cluster idle between
        // write barriers; driver threads are a standard way to overlap
        // independent jobs in one session
        val writes = Seq(
          write("silver_orders", so),
          write("silver_lineitem", sl),
          write("fact_sales", fact,
            saltedPartitionedWrite(_, "order_period", col("order_id"), _, factFanout)),
          write("dim_customers", Medallion.dimCustomer(Tables.customer(spark, sfDir),
            Tables.nation(spark, sfDir), Tables.region(spark, sfDir))),
          write("dim_products", Medallion.dimPart(Tables.part(spark, sfDir))),
          write("dim_time", Medallion.dimDate(orders)))
        // settle ALL futures before propagating a failure: rethrowing on
        // the first error while sibling writes are still running would let
        // a retry start a second overwrite of the same paths concurrently
        // with the stragglers of the failed attempt
        Workdirs.settleAll(writes)
      } finally { so.unpersist(); sl.unpersist() }
    }

  /** Gold/silver `table` of sfDir, written first if this JVM has not. */
  private def read(spark: SparkSession, sfDir: String, table: String): DataFrame =
    Tables.parquet(spark, s"${ensure(spark, sfDir)}/$table")

  def silverOrders(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "silver_orders")

  def silverLineitem(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "silver_lineitem")
  /** Gold fact in the canonical column order of [[Medallion.factSales]],
    * money as the DECIMAL(18,4) it is stored in (the `order_period`
    * partition column stays available for pruning but is projected away
    * here).
    */
  def fact(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "fact_sales")
      .select("order_id", "line_id", "customer_id", "product_id", "price",
        "freight_value", "order_purchase_timestamp", "delivery_time_days")

  def dimCustomer(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "dim_customers")

  def dimPart(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "dim_products")

  def dimDate(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "dim_time")
}
