package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Skew

class SkewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // one hot key (9000 rows of "hot") + a long tail
  private def skewed = (1 to 10000).map { i =>
    if (i <= 9000) ("hot", 1.0) else (s"k$i", 2.0)
  }.toDF("key", "v")

  test("saltedSum equals plain grouped sum") {
    val salted = Skew.saltedSum(skewed, "key", "v", salts = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(salted("hot") == 9000.0)
    assert(salted("k9001") == 2.0)
    assert(salted.size == 1001)
  }

  test("saltedSum equals plain grouped sum on random skewed decimal data") {
    import org.apache.spark.sql.functions.{col, sum}
    for (seed <- 0 until 3) {
      val rnd = new scala.util.Random(seed)
      val rows = Seq.fill(500)((s"k${rnd.nextInt(5)}", rnd.nextInt(100000) / 100.0)) ++
        Seq.fill(500)(("hot", 1.5)) // hot key
      val df = rows.toDF("key", "v")
        .withColumn("v", col("v").cast("decimal(18,4)"))
      val plain = df.groupBy("key").agg(sum(col("v")).as("s"))
        .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
      val salted = Skew.saltedSum(df, "key", "v", salts = 7)
        .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
      assert(salted.keySet == plain.keySet, s"seed=$seed")
      salted.foreach { case (k, v) =>
        assert(v.compareTo(plain(k)) == 0, s"seed=$seed key=$k $v != ${plain(k)}")
      }
    }
  }

  // The recipe of SCALE.md's skew rehearsal, locked as a unit test: a hot
  // key that owns a third of the big side must make AQE (a) flag the SMJ
  // `isSkewJoin` and (b) split the hot partition into
  // PartialReducerPartitionSpec slices. The two preconditions the rehearsal
  // discovered the hard way are both reproduced here: the big side is a
  // MULTI-FILE parquet (AQE splits along map-output boundaries — a
  // single-mapper shuffle is unsplittable no matter how skewed), and the
  // thresholds are scaled to the test's KBs. Runs in its own newSession
  // so conf changes can't leak into concurrently-running suites.
  test("AQE splits the hot partition of a skewed sort-merge join") {
    import org.apache.spark.sql.execution.PartialReducerPartitionSpec
    import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val s = spark.newSession()
    import s.implicits._
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16k")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    // one scan task per file: default bin-packing would merge the 8 tiny
    // files into one mapper, making the hot partition a single
    // map-output block AQE cannot slice
    s.conf.set("spark.sql.files.maxPartitionBytes", "64k")
    s.conf.set("spark.sql.files.openCostInBytes", "64k")

    val dir = TestSpark.tmpDir("skew-split")
    // pad is row-unique (shuffle blocks must not compress away) and is
    // aggregated below (column pruning must not drop it pre-shuffle)
    (1 to 60000).map(i => (if (i % 3 != 0) 1L else i.toLong,
      f"${i * 2654435761L}%024x${i * 40503L}%016x"))
      .toDF("k", "pad")
      .repartition(8) // multi-file: 8 map outputs per shuffle partition
      .write.mode("overwrite").parquet(s"$dir/big")
    val big = s.read.parquet(s"$dir/big")
    val dim = (1L to 60000L).map(k => (k, s"n$k")).toDF("k", "name")
      .repartition(8)

    val joined = big.join(dim, "k").groupBy("name")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.length($"pad")).as("padlen"))
    val rows = joined.collect()
    assert(rows.map(_.getLong(1)).sum == 60000L)

    val nodes = PlanDiff.flatten(joined.queryExecution.executedPlan)
    val skewJoins = nodes.count {
      case j: SortMergeJoinExec => j.isSkewJoin
      case _                    => false
    }
    val partialSpecs = nodes.collect { case r: AQEShuffleReadExec =>
      r.partitionSpecs.count(_.isInstanceOf[PartialReducerPartitionSpec])
    }.sum
    assert(skewJoins == 1, s"expected one skew-flagged SMJ, plan:\n${joined.queryExecution.executedPlan}")
    assert(partialSpecs > 1, s"hot partition not split into slices (specs=$partialSpecs)")
  }
}
