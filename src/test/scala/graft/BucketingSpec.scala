package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Bucketing, Gold}

class BucketingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** The join of a bucketed fact and dim plans with no Exchange and
    * counts what the plain gold join counts.
    */
  private def assertShuffleFree(factT: String, dimT: String): Unit = {
    // force the shuffle-join path (disable broadcast) to expose bucketing;
    // restore the PRIOR value (not a hardcoded default) because the
    // session is shared across suites
    val priorThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table(factT).join(spark.table(dimT), "customer_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must be shuffle-free, got plan:\n$plan")
      // and it still computes the right thing
      val viaBuckets = joined.count()
      val viaPlain = Gold.fact(spark, sf)
        .join(Gold.dimCustomer(spark, sf).withColumnRenamed("c_custkey", "customer_id"), "customer_id")
        .count()
      assert(viaBuckets == viaPlain)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorThreshold)
  }

  test("bucket-aligned fact ⋈ dim joins without any shuffle Exchange") {
    val (factT, dimT) = Bucketing.bucketedStar(spark, sf, buckets = 4)
    assertShuffleFree(factT, dimT)
  }

  test("a leftover directory at a managed-table location is cleared before the bucketed write") {
    // a directory left at a table's managed location (by an earlier JVM's
    // warehouse) blocks CREATE unless the write clears it first
    val (factT, dimT) = ("leftover_fact_bkt", "leftover_dim_bkt")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val fs = new Path(warehouse).getFileSystem(spark.sessionState.newHadoopConf())
    val stale = Seq(factT, dimT).map(t => new Path(s"$warehouse/$t/stale.parquet"))
    stale.foreach(p => fs.create(p).close())
    Bucketing.writeBucketed(Gold.fact(spark, sf), factT, "customer_id", 4)
    Bucketing.writeBucketed(Gold.dimCustomer(spark, sf).withColumnRenamed("c_custkey", "customer_id"),
      dimT, "customer_id", 4)
    assert(!stale.exists(fs.exists), "the leftover file survived the write")
    assertShuffleFree(factT, dimT)
  }
}
