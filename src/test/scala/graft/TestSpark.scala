package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (Spark session startup
  * dominates test wall-time; suites must not stop() it).
  */
object TestSpark {
  lazy val spark: SparkSession = Session.local(2)

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
