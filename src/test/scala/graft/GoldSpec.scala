package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.engine.{Gold, Quality}

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
}
