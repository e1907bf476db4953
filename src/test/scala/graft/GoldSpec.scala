package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, date_format, lit, min, round, sum, when}
import graft.engine.{Analytics, Gold, Quality}

/** The salted partitioned-write contract (used by the gold fact and both
  * landing splits): a HOT partition fans across multiple tasks/files —
  * never serialized through one — while the file count stays bounded at
  * [[Gold.writeFanout]] per partition value.
  */
class GoldSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("salted partitioned write fans a hot partition across >1 bounded files") {
    val dir = TestSpark.tmpDir("gold-salted")
    val hot = (1L to 500L).map(k => (k, "2001-01")) ++
      (501L to 520L).map(k => (k, "2001-02"))
    // AQE rightly coalesces sub-advisory-size shuffle partitions — at
    // test scale that would fold the salts back into one task (the
    // desired small-data behavior). Pin it off to assert the fan-out
    // MECHANISM that takes over once partitions carry real volume.
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      Gold.saltedPartitionedWrite(
        hot.toDF("id", "month"), "month", col("id"), dir)
    } finally spark.conf.set(key, prev)
    def files(m: String) =
      Option(new java.io.File(s"$dir/month=$m").listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet"))
    val hotFiles = files("2001-01")
    assert(hotFiles > 1, s"hot partition must fan out, got $hotFiles file(s)")
    assert(hotFiles <= Gold.writeFanout, s"file count must stay bounded, got $hotFiles")
    assert(files("2001-02") <= Gold.writeFanout)
    // content survives the fan-out intact
    assert(spark.read.parquet(dir).count() == 520)
    assert(spark.read.parquet(dir).select("id").distinct().count() == 520)
  }

  test("the fact is month-grained only when an average month clears the row floor") {
    import Gold.{adaptiveFanout, fanoutRowFloor => floor, maxPartitions, periodGrain}
    // the reference's 36-month history: one lineitem short of the floor
    // per month is year grain; at the floor it is month grain, and the
    // salted write then fans each month across two writers
    assert(periodGrain(36, 36 * floor - 1) == "yyyy")
    assert(periodGrain(36, 36 * floor) == "yyyy-MM")
    assert(adaptiveFanout(36 * floor - 1, 3) == 4) // year grain: 3 fat years
    assert(adaptiveFanout(36 * floor, 36) == 2)
    assert(adaptiveFanout(36 * floor - 36, 36) == 1)
    // more months than the partition cap coarsen to years however full
    assert(periodGrain(maxPartitions, maxPartitions * floor) == "yyyy-MM")
    assert(periodGrain(maxPartitions + 1, (maxPartitions + 1) * floor * 10) == "yyyy")
    assert(periodGrain(0, 0) == "yyyy")
  }

  test("settleAll waits for stragglers before rethrowing the first failure") {
    import scala.concurrent.{ExecutionContext, Future, Promise}
    implicit val ec: ExecutionContext = ExecutionContext.global
    val stragglerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val release = Promise[Unit]()
    val failed = Future.failed[Unit](new RuntimeException("boom"))
    val straggler = release.future.map { _ => stragglerDone.set(true) }
    // release the straggler AFTER settleAll is already blocked on it —
    // if settleAll rethrew on the first failure it would return before
    // the flag flips, and a caller's retry would overlap the live write
    new Thread(() => { Thread.sleep(200); release.success(()): Unit }).start()
    val e = intercept[RuntimeException] {
      graft.engine.Workdirs.settleAll(Seq(failed, straggler))
    }
    assert(e.getMessage == "boom")
    assert(stragglerDone.get(),
      "settleAll rethrew while a sibling future was still in flight")
  }

  test("settleAll with no failures returns after all futures complete") {
    import scala.concurrent.{ExecutionContext, Future}
    implicit val ec: ExecutionContext = ExecutionContext.global
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.engine.Workdirs.settleAll(
      (1 to 4).map(_ => Future { n.incrementAndGet(): Unit }))
    assert(n.get() == 4)
  }

  test("a failed quality gate leaves no silver frame cached") {
    // an empty lineitem fails the silver gate after both silvers are
    // marked for caching; the failure must release them, not the session
    val sf = TestSpark.tmpDir("gold-gate-fail")
    val src = "/root/testdata/sf0.001"
    spark.read.parquet(s"$src/orders.parquet").write.parquet(s"$sf/orders.parquet")
    spark.read.parquet(s"$src/lineitem.parquet").limit(0).write.parquet(s"$sf/lineitem.parquet")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Quality.QualityGateException](Gold.ensure(spark, sf))
    assert(e.getMessage.contains("non_empty=1"), e.getMessage)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"gate failure left ${added.size} cached RDD(s)")
  }

  test("the silver gate fails on a bad row that silver keeps, naming its check") {
    // silver drops only a null order key (silver.py:42,58); a status out
    // of its domain, a null customer or a negative price reaches the
    // gate and fails the build instead of vanishing
    val src = "/root/testdata/sf0.001"
    val orders = spark.read.parquet(s"$src/orders.parquet")
    val items = spark.read.parquet(s"$src/lineitem.parquet")
    val k = orders.agg(min("o_orderkey")).head().get(0)
    val item = items.orderBy("l_orderkey", "l_linenumber").head()
    def bad(df: DataFrame, c: String, at: Column, v: Column) =
      df.withColumn(c, when(at, v).otherwise(col(c)))
    val firstOrder = col("o_orderkey") === k
    val cases = Seq(
      "in_set(o_orderstatus)=1" -> (bad(orders, "o_orderstatus", firstOrder, lit("X")), items),
      "not_null(o_custkey)=1" -> (bad(orders, "o_custkey", firstOrder, lit(null)), items),
      "non_negative(l_extendedprice)=1" -> (orders, bad(items, "l_extendedprice",
        col("l_orderkey") === item.getAs[Any]("l_orderkey") &&
          col("l_linenumber") === item.getAs[Any]("l_linenumber"), -col("l_extendedprice"))))
    for ((check, (o, l)) <- cases) {
      val sf = TestSpark.tmpDir("gold-bad-row")
      o.write.parquet(s"$sf/orders.parquet")
      l.write.parquet(s"$sf/lineitem.parquet")
      val e = intercept[Quality.QualityGateException](Gold.ensure(spark, sf))
      assert(e.getMessage == s"quality gate failed: $check", e.getMessage)
    }
  }

  private val dashboard = Seq("a01_kpis", "a02_top_categories", "a03_orders_by_state",
    "a04_shipping_time_by_state", "a05_avg_freight_by_state", "a06_monthly_trend",
    "a07_weekday_seasonality", "a08_kpis_filtered", "o20_sql_surface",
    "o82_sql_decimal_surface")

  test("building a dashboard query over written gold starts no Spark job") {
    val sf = "/root/testdata/sf0.001"
    val dir = Gold.ensure(spark, sf)
    val jobs = dashboard.map(q => q -> TestSpark.jobsDuring(SparkEntry.queries(q)(spark, sf)))
    assert(jobs.forall(_._2 == 0), s"jobs started while building: $jobs")
    // each reader's schema is the one Spark infers from the written files
    // (DECIMAL money, a partitioned fact taken after its projection)
    for ((table, df) <- Seq("silver_orders" -> Gold.silverOrders(spark, sf),
        "silver_lineitem" -> Gold.silverLineitem(spark, sf), "fact_sales" -> Gold.fact(spark, sf),
        "dim_customers" -> Gold.dimCustomer(spark, sf), "dim_products" -> Gold.dimPart(spark, sf),
        "dim_time" -> Gold.dimDate(spark, sf))) {
      val inferred = spark.read.parquet(s"$dir/$table").select(df.columns.map(col).toSeq: _*)
      assert(df.schema == inferred.schema, table)
    }
  }

  test("two sfDirs in one session: each query reads its own gold") {
    // B keeps two thirds of A's orders; the same session builds both
    // layers and interleaves the queries (o20/o82 re-register their
    // views on each sfDir change)
    val a = "/root/testdata/sf0.001"
    val b = TestSpark.tmpDir("gold-two-sf")
    Seq("lineitem", "customer", "nation", "region", "part").foreach(t =>
      spark.read.parquet(s"$a/$t.parquet").write.parquet(s"$b/$t.parquet"))
    spark.read.parquet(s"$a/orders.parquet").filter("o_orderkey % 3 <> 0")
      .write.parquet(s"$b/orders.parquet")
    // the expected result reads the written files with inferred schemas
    def inferred(sf: String, q: String) = {
      val dir = Gold.ensure(spark, sf)
      val stored = spark.read.parquet(s"$dir/fact_sales").drop("order_period")
      val fact = stored
        .withColumn("price", col("price").cast("double"))
        .withColumn("freight_value", col("freight_value").cast("double"))
      val dimC = spark.read.parquet(s"$dir/dim_customers")
      q match {
        case "a01_kpis" => Analytics.kpis(fact, dimC)
        case "a03_orders_by_state" => Analytics.ordersByState(fact, dimC)
        case "o20_sql_surface" => stored
          .groupBy(date_format(col("order_purchase_timestamp"), "yyyy-MM").as("period"))
          .agg(round(sum(col("price")), 2).cast("double").as("revenue"))
          .orderBy("period")
      }
    }
    val runs = for (sf <- Seq(a, b, a, b); q <- Seq("a01_kpis", "a03_orders_by_state",
      "o20_sql_surface")) yield {
      val got = SparkEntry.queries(q)(spark, sf).collect().toSeq
      assert(got == inferred(sf, q).collect().toSeq, s"$q on $sf")
      (sf, q) -> got
    }
    val byKey = runs.toMap
    assert(byKey((a, "a01_kpis")) != byKey((b, "a01_kpis")), "the two layers must differ")
  }
}
