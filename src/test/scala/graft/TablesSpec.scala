package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkException
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables

class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"/root/testdata/$sf")

  private def tables(sfDir: String) =
    new java.io.File(sfDir).list().toSeq.filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted

  /** Run `f` with session confs set, restoring the earlier values after. */
  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a footer-read schema equals Spark's inferred one for every testdata table") {
    for (sfDir <- sfDirs; t <- tables(sfDir); nanos <- Seq("false", "true"))
      withConf("spark.sql.legacy.parquet.nanosAsLong" -> nanos) {
        assert(Tables.load(spark, sfDir, t).schema ==
          spark.read.parquet(s"$sfDir/$t.parquet").schema, s"$t in $sfDir, nanosAsLong=$nanos")
      }
  }

  test("the session's parquet flags reach the footer conversion") {
    val sfDir = sfDirs.head
    for (flag <- Seq("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
                     "spark.sql.parquet.binaryAsString" -> "true",
                     "spark.sql.parquet.int96AsTimestamp" -> "false");
         t <- tables(sfDir))
      withConf(flag) {
        assert(Tables.load(spark, sfDir, t).schema ==
          spark.read.parquet(s"$sfDir/$t.parquet").schema, s"$t with $flag")
      }
  }

  test("a directory of part files and partitions reads the file inference reads") {
    val dir = TestSpark.tmpDir("tables-parts")
    // two files whose schemas differ: inference (mergeSchema off) reads
    // the first data file by path, and so must the footer read
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/flat/part=1")
    Seq((2L, 2.5, "b")).toDF("k", "x", "v").write.parquet(s"$dir/flat/part=2")
    Seq((1L, "a", "2024"), (2L, "b", "2025")).toDF("k", "v", "period")
      .write.partitionBy("period").parquet(s"$dir/byPeriod")
    // with mergeSchema on, inference merges every footer, and so must the read
    for (merge <- Seq("false", "true");
         p <- Seq(s"$dir/flat", s"$dir/flat/part=2", s"$dir/byPeriod", s"$dir/by*"))
      withConf("spark.sql.parquet.mergeSchema" -> merge) {
        assert(Tables.parquet(spark, p).schema == spark.read.parquet(p).schema, s"$p, mergeSchema=$merge")
      }
  }

  test("reading a raw table starts no Spark job") {
    val sfDir = sfDirs.head
    assert(TestSpark.jobsDuring(Tables.load(spark, sfDir, "orders")) == 0)
    assert(TestSpark.jobsDuring(Tables.events(spark, sfDir)) == 0)
  }

  test("a truncated raw file fails with an error naming it") {
    val dir = TestSpark.tmpDir("tables-torn")
    val bytes = Files.readAllBytes(Paths.get(s"${sfDirs.head}/orders.parquet"))
    Files.write(Paths.get(s"$dir/orders.parquet"), bytes.take(bytes.length / 2))
    val e = intercept[SparkException](Tables.load(spark, dir, "orders"))
    assert(e.getCondition == "FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER")
    assert(e.getMessage.contains(s"$dir/orders.parquet"), e.getMessage)
    // told to skip corrupt files, inference has no footer left, and fails
    withConf("spark.sql.files.ignoreCorruptFiles" -> "true") {
      val ours = intercept[AnalysisException](Tables.load(spark, dir, "orders"))
      val sparks = intercept[AnalysisException](spark.read.parquet(s"$dir/orders.parquet"))
      assert(ours.getCondition == "UNABLE_TO_INFER_SCHEMA" && ours.getMessage == sparks.getMessage)
    }
  }

  test("an empty directory and an unmatched glob fail with Spark's own errors") {
    val dir = TestSpark.tmpDir("tables-empty")
    for (p <- Seq(dir, s"$dir/orders*.parquet", s"$dir/missing.parquet")) {
      val ours = intercept[AnalysisException](Tables.parquet(spark, p))
      val sparks = intercept[AnalysisException](spark.read.parquet(p))
      assert(ours.getCondition == sparks.getCondition && ours.getMessage == sparks.getMessage, p)
    }
  }

  test("one read lists its path once") {
    val dir = TestSpark.tmpDir("tables-listing")
    Seq((1L, "a", "2024"), (2L, "b", "2024"), (3L, "c", "2025")).toDF("k", "v", "period")
      .repartition(2).write.partitionBy("period").parquet(s"$dir/byPeriod")
    // the files a listing keeps: data files, not `_SUCCESS` or checksums
    def dataFiles(p: String): Long = Files.walk(Paths.get(p)).filter(f => Files.isRegularFile(f) &&
      !f.getFileName.toString.startsWith("_") && !f.getFileName.toString.startsWith(".")).count()
    for (p <- Seq(s"${sfDirs(1)}/lineitem.parquet", s"$dir/byPeriod")) {
      val before = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
      Tables.parquet(spark, p)
      assert(HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - before == dataFiles(p), p)
    }
  }
}
