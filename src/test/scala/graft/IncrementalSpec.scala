package graft

import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp
import org.apache.spark.sql.functions.col
import graft.engine.{Incremental, Landing}

class IncrementalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Write a tiny sfDir-shaped source: 4 orders across 2 years + items. */
  private def writeSource(dir: String, extraOrder: Boolean = false): Unit = {
    val baseOrders = Seq(
      (1L, 10L, "F", 100.0, ts("1995-03-01 00:00:00"), "1-URGENT"),
      (2L, 11L, "O", 200.0, ts("1995-07-01 00:00:00"), "2-HIGH"),
      (3L, 10L, "F", 300.0, ts("1996-01-01 00:00:00"), "3-MEDIUM"),
      (4L, 12L, "P", 400.0, ts("1996-06-01 00:00:00"), "1-URGENT"))
    val orders = if (extraOrder)
      baseOrders :+ (5L, 11L, "F", 500.0, ts("1996-09-01 00:00:00"), "2-HIGH")
    else baseOrders
    orders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq(
      (1L, 1, 100L, 10.0), (1L, 2, 101L, 20.0),
      (2L, 1, 100L, 30.0), (3L, 1, 102L, 40.0),
      (4L, 1, 100L, 50.0), (5L, 1, 101L, 60.0)) // item for order 5 pre-exists
      .toDF("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((10L, "A"), (11L, "B"), (12L, "C")).toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((100L, "p1"), (101L, "p2"), (102L, "p3")).toDF("p_partkey", "p_name")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
  }

  test("incremental runs: exactly-once, idempotent, fingerprint-skipped, dim-replaced") {
    val src = TestSpark.tmpDir("inc-src")
    val root = TestSpark.tmpDir("inc-root")
    writeSource(src)
    Landing.explode(spark, src, s"$root/landing", periodFmt = "yyyy")

    // run 1: everything inserted exactly once
    val run1 = Incremental.run(spark, s"$root/landing", s"$root/bronze")
    val r1 = run1.map(e => e.file_name -> e).toMap
    assert(r1("orders_1995").status == "OK" && r1("orders_1995").rows_orders == 2)
    assert(r1("orders_1996").rows_orders == 2 && r1("orders_1996").rows_items == 2)
    assert(r1("orders_1995").rows_items == 3)
    assert(r1("customer_full").status == "OK" && r1("customer_full").rows_orders == 3)

    // item of order 5 must NOT be loaded: order 5 doesn't exist yet (J7)
    val items1 = spark.read.parquet(s"$root/bronze/lineitem")
    assert(items1.count() == 5)
    assert(items1.filter("l_orderkey = 5").count() == 0)

    // run 2: pure no-op — every file fingerprint-skipped
    val run2 = Incremental.run(spark, s"$root/landing", s"$root/bronze")
    assert(run2.forall(e => e.status == "SKIP" && e.rows_orders == 0 && e.rows_items == 0))
    assert(spark.read.parquet(s"$root/bronze/orders").count() == 4)
    assert(items1.count() == 5)

    // no duplicate keys anywhere
    val orders = spark.read.parquet(s"$root/bronze/orders")
    assert(orders.select("o_orderkey").distinct().count() == orders.count())
    val items = spark.read.parquet(s"$root/bronze/lineitem")
    assert(items.select("l_orderkey", "l_linenumber").distinct().count() == items.count())

    // changed data: add order 5 (1996) → only the 1996 file reprocesses,
    // only the delta appends, and order 5's item arrives with it
    writeSource(src, extraOrder = true)
    Landing.explode(spark, src, s"$root/landing", periodFmt = "yyyy")
    val run3 = Incremental.run(spark, s"$root/landing", s"$root/bronze")
    val r3 = run3.map(e => e.file_name -> e).toMap
    assert(r3("orders_1995").status == "SKIP", "unchanged 1995 file must be skipped")
    assert(r3("orders_1996").status == "OK" && r3("orders_1996").rows_orders == 1)
    assert(r3("orders_1996").rows_items == 1)
    assert(spark.read.parquet(s"$root/bronze/orders").count() == 5)
    assert(spark.read.parquet(s"$root/bronze/lineitem").count() == 6)

    // tech log: upserted per file; note repair (S11) rewrites SKIP notes
    Incremental.normalizeTechLog(spark, s"$root/bronze")
    val entries = Incremental.readTechLog(spark, s"$root/bronze")
    val log = entries.map(e => e.file_name -> e).toMap
    assert(log("orders_1995").note == "unchanged")
    assert(log("orders_1996").note.startsWith("OK:"))
    // the log stays queryable (S9): Spark's JSON reader returns its entries
    val queried = spark.read.schema(org.apache.spark.sql.Encoders.product[Incremental.LogEntry].schema)
      .json(s"$root/bronze/tech/processed_files").as[Incremental.LogEntry].collect().toSeq
    assert(queried == entries)
  }

  test("monthly-grain landing produces the same bronze as yearly-grain") {
    val src = TestSpark.tmpDir("inc-month-src")
    val root = TestSpark.tmpDir("inc-month-root")
    writeSource(src)
    Landing.explode(spark, src, s"$root/landing", periodFmt = "yyyy-MM")
    val run1 = Incremental.run(spark, s"$root/landing", s"$root/bronze")
    assert(run1.count(_.file_name.startsWith("orders_")) == 4) // 4 distinct months
    assert(run1.filter(_.file_name.startsWith("orders_")).map(_.rows_orders).sum == 4)
    assert(spark.read.parquet(s"$root/bronze/orders").count() == 4)
    assert(spark.read.parquet(s"$root/bronze/lineitem").count() == 5)
    val run2 = Incremental.run(spark, s"$root/landing", s"$root/bronze")
    assert(run2.forall(_.status == "SKIP"))

    // mid-stream NEW MONTH: order 5 lands in 1996-09, a period file that
    // didn't exist before — every prior month must fingerprint-SKIP, the
    // new month alone appends, and order 5's pre-existing item (J7-held
    // until now) arrives with it
    writeSource(src, extraOrder = true)
    Landing.explode(spark, src, s"$root/landing", periodFmt = "yyyy-MM")
    val run3 = Incremental.run(spark, s"$root/landing", s"$root/bronze")
    val r3 = run3.map(e => e.file_name -> e).toMap
    assert(r3.contains("orders_1996-09"), "new month must appear in the manifest")
    assert(r3("orders_1996-09").status == "OK" &&
      r3("orders_1996-09").rows_orders == 1 && r3("orders_1996-09").rows_items == 1)
    assert(run3.filter(e => e.file_name.startsWith("orders_") &&
      e.file_name != "orders_1996-09").forall(_.status == "SKIP"),
      "all pre-existing months must be fingerprint-skipped")
    assert(spark.read.parquet(s"$root/bronze/orders").count() == 5)
    assert(spark.read.parquet(s"$root/bronze/lineitem").count() == 6)
  }

  test("rerun converges after a crash between the item and order appends") {
    val src = TestSpark.tmpDir("inc-crash-src")
    val root = TestSpark.tmpDir("inc-crash-root")
    writeSource(src)
    Landing.explode(spark, src, s"$root/landing", periodFmt = "yyyy")
    // simulate the crash window: orders_1995's items already appended,
    // its orders not, and no log entry written
    spark.read.parquet(s"$root/landing/lineitem")
      .filter("period = '1995'")
      .write.mode("append").partitionBy("period")
      .parquet(s"$root/bronze/lineitem")
    val run1 = Incremental.run(spark, s"$root/landing", s"$root/bronze")
    val r1 = run1.map(e => e.file_name -> e).toMap
    assert(r1("orders_1995").rows_orders == 2)
    assert(r1("orders_1995").rows_items == 0, "pre-appended items must dedup, not duplicate")
    val orders = spark.read.parquet(s"$root/bronze/orders")
    val items = spark.read.parquet(s"$root/bronze/lineitem")
    assert(orders.count() == 4)
    assert(items.count() == 5)
    assert(items.select("l_orderkey", "l_linenumber").distinct().count() == 5)
  }

  test("payload-only change re-fingerprints and reprocesses, but stays insert-only") {
    val src = TestSpark.tmpDir("inc-upd-src")
    val root = TestSpark.tmpDir("inc-upd-root")
    writeSource(src)
    Landing.explode(spark, src, s"$root/landing", periodFmt = "yyyy")
    Incremental.run(spark, s"$root/landing", s"$root/bronze")

    // correct order 1's o_totalprice — same keys, same row count, so the
    // old id-only fingerprint would collide and silently SKIP the file
    Seq(
      (1L, 10L, "F", 999.0, ts("1995-03-01 00:00:00"), "1-URGENT"),
      (2L, 11L, "O", 200.0, ts("1995-07-01 00:00:00"), "2-HIGH"),
      (3L, 10L, "F", 300.0, ts("1996-01-01 00:00:00"), "3-MEDIUM"),
      (4L, 12L, "P", 400.0, ts("1996-06-01 00:00:00"), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$src/orders.parquet")
    Landing.explode(spark, src, s"$root/landing", periodFmt = "yyyy")
    val run2 = Incremental.run(spark, s"$root/landing", s"$root/bronze")
    val r2 = run2.map(e => e.file_name -> e).toMap
    assert(r2("orders_1995").status == "OK",
      "content change must invalidate the fingerprint skip")
    assert(r2("orders_1995").rows_orders == 0,
      "insert-only: no new keys, nothing appended")
    assert(r2("orders_1996").status == "SKIP", "untouched file stays skipped")
    val price = spark.read.parquet(s"$root/bronze/orders")
      .filter("o_orderkey = 1").select("o_totalprice").as[Double].head()
    assert(price == 100.0,
      "insert-only contract: existing row's payload is NOT updated in place")
  }

  test("quality gate aborts the file on bad input before any write") {
    val src = TestSpark.tmpDir("inc-bad-src")
    val root = TestSpark.tmpDir("inc-bad-root")
    Seq((Option.empty[Long], Some(10L), "F", 1.0, ts("1995-01-01 00:00:00"), "x"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$src/orders.parquet")
    Seq((1L, 1, 100L, 10.0))
      .toDF("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$src/lineitem.parquet")
    Seq((10L, "A")).toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$src/customer.parquet")
    Seq((100L, "p1")).toDF("p_partkey", "p_name")
      .write.mode("overwrite").parquet(s"$src/part.parquet")
    Landing.explode(spark, src, s"$root/landing", periodFmt = "yyyy")
    intercept[graft.engine.Quality.QualityGateException] {
      Incremental.run(spark, s"$root/landing", s"$root/bronze")
    }
    assert(!new java.io.File(s"$root/bronze/orders").exists(),
      "fail-fast: nothing may be written for a gated file")
  }

  test("a run's job count does not depend on its file count") {
    // yearly landing = 2 order files, monthly = 4, same rows: one
    // set-based pass per run starts the same jobs either way
    def jobs(periodFmt: String): (Int, Int) = {
      val src = TestSpark.tmpDir("inc-jobs-src")
      val root = TestSpark.tmpDir("inc-jobs-root")
      writeSource(src)
      Landing.explode(spark, src, s"$root/landing", periodFmt = periodFmt)
      def run() = TestSpark.jobsDuring(
        Incremental.run(spark, s"$root/landing", s"$root/bronze"))
      val cold = run()
      (cold, run())
    }
    val (yearCold, yearRerun) = jobs("yyyy")
    val (monthCold, monthRerun) = jobs("yyyy-MM")
    assert(yearCold == monthCold, s"cold run: $yearCold jobs for 2 files, $monthCold for 4")
    assert(yearRerun == monthRerun, s"rerun: $yearRerun jobs for 2 files, $monthRerun for 4")
    // an all-SKIP rerun reads the manifest and the tech log and rewrites
    // the log, all on the driver: readTechLog and writeTechLog start none
    assert(yearRerun == 0, s"an all-SKIP rerun started $yearRerun job(s)")
  }

  /** Land (key, custkey, date) orders and (key, linenumber) items at the
    * yearly grain; returns the pipeline root.
    */
  private def land(orders: Seq[(Option[Long], Long, String)],
                   items: Seq[(Long, Int)]): String = {
    val src = TestSpark.tmpDir("inc-set-src")
    val root = TestSpark.tmpDir("inc-set-root")
    orders.map { case (k, c, d) => (k, c, "F", 1.0, ts(s"$d 00:00:00"), "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$src/orders.parquet")
    items.map { case (k, n) => (k, n, 100L, 1.0) }
      .toDF("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$src/lineitem.parquet")
    Seq((10L, "A")).toDF("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$src/customer.parquet")
    Seq((100L, "p1")).toDF("p_partkey", "p_name")
      .write.mode("overwrite").parquet(s"$src/part.parquet")
    Landing.explode(spark, src, s"$root/landing", periodFmt = "yyyy")
    root
  }

  /** Bronze orders as "key/cust/date", items as "key/line/period", and
    * the tech log as "file status orders items note at", each sorted.
    */
  private def endState(root: String): (Seq[String], Seq[String], Seq[String]) = {
    val fps = Landing.readManifest(spark, s"$root/landing").files.map(f => f.file -> f.fingerprint).toMap
    val log = Incremental.readTechLog(spark, s"$root/bronze").sortBy(_.file_name).map { e =>
      assert(e.fingerprint == fps(e.file_name), s"${e.file_name} logged a stale fingerprint")
      s"${e.file_name} ${e.status} ${e.rows_orders} ${e.rows_items} ${e.note} ${e.processed_at}"
    }
    val orders = spark.read.parquet(s"$root/bronze/orders")
      .selectExpr("concat_ws('/', o_orderkey, o_custkey, to_date(o_orderdate))")
      .as[String].collect().toSeq.sorted
    val items = spark.read.parquet(s"$root/bronze/lineitem")
      .selectExpr("concat_ws('/', l_orderkey, l_linenumber, period)")
      .as[String].collect().toSeq.sorted
    (orders, items, log)
  }

  test("the set pass keeps the loop's end state: shared keys, mid-run gate failure") {
    // order 1 lands in 1995 AND 1996 (landing files its items under both
    // periods): only the first file keeps it, with its items; order 2 is
    // duplicated inside 1995, and a duplicate within one file is kept
    val shared = land(
      Seq((Some(1L), 10L, "1995-03-01"), (Some(2L), 11L, "1995-07-01"),
        (Some(2L), 13L, "1995-09-01"), (Some(1L), 12L, "1996-02-01"),
        (Some(3L), 10L, "1996-05-01")),
      Seq((1L, 1), (1L, 2), (2L, 1), (3L, 1)))
    Incremental.run(spark, s"$shared/landing", s"$shared/bronze")
    val (orders1, items1, log1) = endState(shared)
    assert(orders1 == Seq("1/10/1995-03-01", "2/11/1995-07-01", "2/13/1995-09-01",
      "3/10/1996-05-01"))
    assert(items1 == Seq("1/1/1995", "1/2/1995", "2/1/1995", "2/1/1995", "3/1/1996"))
    assert(log1 == Seq(
      "customer_full OK 1 0 OK: replaced 1 2024-01-01 01:00:00.0",
      "orders_1995 OK 3 4 OK: inserted 3 2024-01-01 01:00:00.0",
      "orders_1996 OK 1 1 OK: inserted 1 2024-01-01 01:00:00.0",
      "part_full OK 1 0 OK: replaced 1 2024-01-01 01:00:00.0"))

    // a null key in the middle file of three: the first file is ingested
    // and logged; the failing file, the later one and the dims are not
    val failing = land(
      Seq((Some(1L), 10L, "1995-03-01"), (Some(2L), 11L, "1995-08-01"),
        (Some(3L), 10L, "1996-01-01"), (None, 12L, "1996-04-01"),
        (Some(4L), 11L, "1997-02-01")),
      Seq((1L, 1), (2L, 1), (3L, 1), (4L, 1)))
    val e = intercept[graft.engine.Quality.QualityGateException] {
      Incremental.run(spark, s"$failing/landing", s"$failing/bronze")
    }
    assert(e.getMessage == "quality gate failed: not_null(o_orderkey)=1")
    val (orders2, items2, log2) = endState(failing)
    assert(orders2 == Seq("1/10/1995-03-01", "2/11/1995-08-01"))
    assert(items2 == Seq("1/1/1995", "2/1/1995"))
    assert(log2 == Seq("orders_1995 OK 2 2 OK: inserted 2 2024-01-01 01:00:00.0"))
    assert(Seq("customer", "part").forall(d => !new java.io.File(s"$failing/bronze/$d").exists()),
      "a gate failure must not touch the dims")
  }

  test("explode fails loudly on an EMPTY orders table (no 0-anchored grain)") {
    // On empty input min/max(year) are null, and getAs[Int] unboxes
    // null to 0 silently — without the NonEmpty gate explode would
    // proceed with a year-0-anchored bucket grain instead of failing
    // at the landing boundary like a null date does (r18 advice).
    val src = TestSpark.tmpDir("inc-empty-src")
    val root = TestSpark.tmpDir("inc-empty-root")
    Seq.empty[(Long, Long, String, Double, Timestamp, String)]
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$src/orders.parquet")
    val e = intercept[graft.engine.Quality.QualityGateException] {
      Landing.explode(spark, src, s"$root/landing", periodFmt = "yyyy")
    }
    assert(e.getMessage.contains("non_empty") || e.getMessage.toLowerCase.contains("empty"),
      s"gate must name the NonEmpty violation, got: ${e.getMessage}")
    assert(!new java.io.File(s"$root/landing").exists(),
      "fail-fast: an empty ingest must write no landing files")
  }

  test("a corrupt manifest fails the run with a named error, before any ingest") {
    // rewrite the manifest's text; the rewritten file no longer matches
    // its checksum sidecar, which goes too unless `keepCrc`
    def corrupt(rewrite: String => String, keepCrc: Boolean = false): String = {
      val root = land(Seq((Some(1L), 10L, "1995-03-01"), (Some(2L), 11L, "1996-07-01")),
        Seq((1L, 1), (2L, 1)))
      val file = java.nio.file.Paths.get(s"$root/landing/_manifest.json")
      val text = new String(java.nio.file.Files.readAllBytes(file), "UTF-8")
      java.nio.file.Files.write(file, rewrite(text).getBytes("UTF-8"))
      if (!keepCrc) new java.io.File(s"$root/landing/._manifest.json.crc").delete()
      root
    }
    // a file cut off mid-field (a torn write): with its checksum sidecar
    // the read fails the checksum, without it the JSON parse fails
    val tornCrc = corrupt(t => t.take(t.length / 2), keepCrc = true)
    val torn = corrupt(t => t.take(t.length / 2))
    // an entry missing a field, or with a null one
    val partial = corrupt(_.replaceFirst(",\"rows\":\\d+", ""))
    val nullField = corrupt(_.replaceFirst("\"fingerprint\":\"\\w+\"", "\"fingerprint\":null"))
    // a manifest with no entry
    val noEntries = corrupt(_.replaceFirst("\"files\":\\[[^\\]]*\\]", "\"files\":[]"))
    // a landing table the run reads, with no schema
    val noSchema = corrupt(_.replaceFirst("\"part\":\\{", "\"part_old\":{"))
    // no manifest at all
    val missing = land(Seq((Some(1L), 10L, "1995-03-01")), Seq((1L, 1)))
    assert(new java.io.File(s"$missing/landing/_manifest.json").delete())
    for (root <- Seq(tornCrc, torn, partial, nullField, noEntries, noSchema, missing)) {
      val e = intercept[Landing.CorruptManifestException] {
        Incremental.run(spark, s"$root/landing", s"$root/bronze")
      }
      assert(e.getMessage.contains(s"$root/landing/_"), e.getMessage)
      assert(!new java.io.File(s"$root/bronze").exists(), "nothing may be ingested")
    }
  }

  test("reading the landing manifest starts no Spark job") {
    val root = land(Seq((Some(1L), 10L, "1995-03-01")), Seq((1L, 1)))
    val jobs = TestSpark.jobsDuring(Landing.readManifest(spark, s"$root/landing"))
    assert(jobs == 0, s"$jobs job(s) started reading the manifest")
  }

  test("dim fingerprints and REPLACE counts ride their writes with unchanged values") {
    val src = TestSpark.tmpDir("inc-observe-src")
    val root = TestSpark.tmpDir("inc-observe-root")
    writeSource(src)
    Landing.explode(spark, src, s"$root/landing", periodFmt = "yyyy")
    // the entries a separate aggregation over each written dim gave for
    // this source, before the fingerprints became observed metrics
    val dims = Seq(
      Landing.LandingFile("customer_full", "ec12205575e1e684463e1895dd5f155d", 3L),
      Landing.LandingFile("part_full", "1dae9625fe429145e25362aab43dd229", 3L))
    assert(Landing.readManifest(spark, s"$root/landing").files.filter(_.file.endsWith("_full")) == dims)
    val replaced = Incremental.run(spark, s"$root/landing", s"$root/bronze")
      .filter(_.file_name.endsWith("_full")).map(e => (e.file_name, e.status, e.rows_orders, e.note))
    assert(replaced == dims.map(f => (f.file, "OK", f.rows, s"OK: replaced ${f.rows}")))
  }

  test("an explode that fails after its data writes leaves no manifest a run would trust") {
    val src = TestSpark.tmpDir("inc-halfexplode-src")
    val root = TestSpark.tmpDir("inc-halfexplode-root")
    writeSource(src)
    Landing.explode(spark, src, s"$root/landing", periodFmt = "yyyy")
    Incremental.run(spark, s"$root/landing", s"$root/bronze")
    def bronzeRows = Seq("orders", "lineitem").map(t => spark.read.parquet(s"$root/bronze/$t").count())
    val before = bronzeRows
    // day 2 adds order 5 to the existing 1996 period; its source lacks
    // the part table, so explode fails after rewriting orders, lineitem
    // and customer
    writeSource(src, extraOrder = true)
    graft.engine.Workdirs.deleteRecursively(new java.io.File(s"$src/part.parquet"))
    intercept[org.apache.spark.sql.AnalysisException] {
      Landing.explode(spark, src, s"$root/landing", periodFmt = "yyyy")
    }
    val e = intercept[Landing.CorruptManifestException] {
      Incremental.run(spark, s"$root/landing", s"$root/bronze")
    }
    assert(e.getMessage.contains(s"$root/landing/_manifest.json"), e.getMessage)
    assert(bronzeRows == before, "nothing may be appended")
  }

  /** Rewrite the tech log's text after one run; the rewritten file no
    * longer matches its checksum sidecar, which goes too. Returns the
    * pipeline root.
    */
  private def rewriteLog(rewrite: String => String): String = {
    val root = land(Seq((Some(1L), 10L, "1995-03-01")), Seq((1L, 1)))
    Incremental.run(spark, s"$root/landing", s"$root/bronze")
    val file = java.nio.file.Paths.get(s"$root/bronze/tech/processed_files")
    val text = new String(java.nio.file.Files.readAllBytes(file), "UTF-8")
    java.nio.file.Files.write(file, rewrite(text).getBytes("UTF-8"))
    assert(new java.io.File(s"$root/bronze/tech/.processed_files.crc").delete())
    root
  }

  /** readTechLog and a run over `root` both throw the named error, naming
    * the log; returns readTechLog's.
    */
  private def corruptLog(root: String): Incremental.CorruptTechLogException = {
    val e = intercept[Incremental.CorruptTechLogException](
      Incremental.readTechLog(spark, s"$root/bronze"))
    assert(e.getMessage.contains(s"$root/bronze/tech/processed_files"), e.getMessage)
    intercept[Incremental.CorruptTechLogException](
      Incremental.run(spark, s"$root/landing", s"$root/bronze"))
    e
  }

  test("a tech log with no entry, a missing column or a changed column type fails readTechLog") {
    // an empty file, and a log with zero entries
    assert(corruptLog(rewriteLog(_ => "")).getCause != null)
    assert(corruptLog(rewriteLog(_ => "[]")).getMessage.contains("no entries"))
    // an entry missing a field, or with a null one
    assert(corruptLog(rewriteLog(_.replaceFirst(",\"note\":\"[^\"]*\"", ""))).getCause != null)
    assert(corruptLog(rewriteLog(_.replaceFirst("\"fingerprint\":\"\\w+\"", "\"fingerprint\":null")))
      .getCause != null)
    // a count stored as a string is not coerced
    val e = corruptLog(rewriteLog(_.replaceFirst("\"rows_orders\":(\\d+)", "\"rows_orders\":\"$1\"")))
    assert(e.getMessage.contains("rows_orders"), e.getMessage)
    // the parquet directory older engines wrote at the same path
    val old = land(Seq((Some(1L), 10L, "1995-03-01")), Seq((1L, 1)))
    Seq(("orders_1995", "OK")).toDF("file_name", "status")
      .write.parquet(s"$old/bronze/tech/processed_files")
    assert(corruptLog(old).getCause != null)
    // no log at all is a first run
    assert(Incremental.readTechLog(spark, s"$old/no-bronze").isEmpty)
  }

  test("a truncated tech log file fails the run with a named error") {
    val root = rewriteLog(t => t.take(t.length / 2))
    assert(corruptLog(root).getCause != null, "the read's own error is attached")
  }
}
