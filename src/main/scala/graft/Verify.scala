package graft
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Extra args
  * restrict the dump to the named queries (the sf1 spot-check runs the
  * heaviest ten, not the whole registry). */
object Verify {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    dump(spark, args(0), args(1), args.drop(2).toSet)
    spark.stop()
  }

  /** Write each registry query of sfDir (only those named in `only`,
    * when it is not empty) as parquet under `outDir/<name>`, and every
    * oracle SQL as `outDir/oracle_sql.json`. A query that fails is
    * reported on stderr and left out of the dump, so `dev/check_oracle.py`
    * passes one query fewer.
    */
  def dump(spark: org.apache.spark.sql.SparkSession, sfDir: String, outDir: String,
           only: Set[String]): Unit = {
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Json.write(spark, s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
  }
}
