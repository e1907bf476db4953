package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed (co-located) join support — the 100 TB deployment shape for
  * the fact ⋈ customer-dim join: both sides hash-bucketed and sorted on
  * the join key at write time, so the join is a zero-shuffle sort-merge
  * (no Exchange on either side; verified at the plan level in
  * BucketingSpec).
  *
  * Bucketed tables live in the session catalog (saveAsTable — parquet
  * under the warehouse dir); `spark.table(name)` reads them back with
  * bucket metadata intact.
  */
object Bucketing {

  def writeBucketed(df: DataFrame, table: String, key: String,
                    buckets: Int): Unit = {
    val spark = df.sparkSession
    // a managed-table location left behind by a previous JVM (in-memory
    // catalog, persistent warehouse dir) blocks CREATE — drop both, the
    // location on the warehouse's own filesystem
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Workdirs.delete(spark, s"${spark.conf.get("spark.sql.warehouse.dir")}/$table")
    df.write
      .mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Bucket-aligned fact and customer-dim tables for an sfDir; returns
    * the (fact, dim) table names. Memoized per (JVM, sfDir, buckets) —
    * registry queries and suites can call it freely without re-paying
    * the bucketed write; names carry the sfDir key so different scale
    * factors in one JVM never clobber each other's buckets.
    */
  def bucketedStar(spark: SparkSession, sfDir: String,
                   buckets: Int = 8): (String, String) = {
    val k = Workdirs.key(sfDir).replace('.', '_')
    val factTable = s"fact_sales_bkt_${k}_$buckets"
    val dimTable = s"dim_customers_bkt_${k}_$buckets"
    Workdirs.materializeOnce(s"bucketed-star-$buckets", sfDir) { _ =>
      writeBucketed(Gold.fact(spark, sfDir), factTable, "customer_id", buckets)
      writeBucketed(
        Gold.dimCustomer(spark, sfDir).withColumnRenamed("c_custkey", "customer_id"),
        dimTable, "customer_id", buckets)
    }
    (factTable, dimTable)
  }
}
