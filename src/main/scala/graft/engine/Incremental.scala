package graft.engine

import graft.Json
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** The Phase-2 incremental bronze pipeline (SURVEY §2.10; reference
  * `scripts/bronze_incremental.py`):
  *
  *  - ordered file processing (`:245` sorted month files)
  *  - fingerprint offset tracking: a file whose manifest fingerprint
  *    matches its OK tech-log entry is SKIPped unread (`:125-133,266-268`)
  *  - fail-fast DQC gate per file before any write (`:68-106`)
  *  - exactly-once appends: `left_anti` on the natural key for orders
  *    (J5, `:275-289`), items loaded ONLY for new orders (semi-join J7,
  *    `:302-307`) then composite-key anti-join (J6, `:308-318`).
  *    INSERT-ONLY CONTRACT (same as the reference): a changed file is
  *    re-fingerprinted and reprocessed, but only rows with NEW keys are
  *    appended — an update to an already-ingested order's payload is
  *    dropped by the anti-join, by design (asserted in IncrementalSpec)
  *  - changed dims ⇒ full REPLACE (`:199-219`)
  *  - queryable tech log with upsert semantics (S9, `:144-155`) and the
  *    SQL-UPDATE note repair (S11, `scripts/normalize_tech_log.py:4-11`);
  *    the log is one driver-side JSON file, like the landing manifest
  *
  * One pass per run, not per file: the reference loops over its month
  * files; here every new landing file of a run (one landing `period`
  * each) is gated, staged and appended as ONE set, and the end state is
  * the sorted per-file loop's (see [[run]]). So a run starts the same
  * jobs for 3 files as for 300, and the tech log is rewritten once per
  * run instead of once per file (O(files²) writes).
  *
  * Every read declares the schema its table was written with: landing
  * and bronze tables the one [[Landing.explode]] recorded in the
  * manifest (bronze holds landing rows), `_stage` the staged frame's
  * own; the manifest and the tech log are parsed on the driver by the
  * strict codec. So a run starts no schema-inference job, a landing
  * `period` reads back as the manifest's string, and a file that lost a
  * column or changed a type fails the read or throws a named error
  * instead of being ingested. A run whose every file is SKIPped starts
  * no Spark job at all.
  *
  * Scale posture: every data move is a distributed anti/semi-join shuffle
  * on the natural key + a parquet append; the only driver-side state is
  * the manifest and tech log — metadata bounded by FILE count, not row
  * count. Crash recovery is re-running: a run that dies part-way
  * reprocesses its whole batch, and the anti-joins keep that
  * exactly-once.
  */
object Incremental {

  /** Tech-log row — mirrors the reference's `tech.tech_processed_files`
    * schema (`scripts/bronze_incremental.py:113-123`: file_name,
    * fingerprint, processed_at TIMESTAMP, BIGINT counters, status, note).
    * `processed_at` is derived from the RUN ORDINAL (logEpoch + n hours),
    * not wall clock, so reruns are bit-deterministic for the oracle while
    * still recording which run touched each file.
    */
  final case class LogEntry(file_name: String, fingerprint: String,
                            processed_at: java.sql.Timestamp,
                            status: String, rows_orders: Long,
                            rows_items: Long, note: String)

  /** 2024-01-01T00:00:00Z; run N stamps its entries logEpoch + N hours. */
  private val logEpochMs = 1704067200000L

  private def nextRunTs(prior: Iterable[LogEntry]): java.sql.Timestamp =
    new java.sql.Timestamp(
      (prior.map(_.processed_at.getTime) ++ Seq(logEpochMs)).max + 3600000L)

  private def techLogPath(bronzeRoot: String) = s"$bronzeRoot/tech/processed_files"

  /** Missing log ⇒ first run ⇒ empty. Any other failure throws
    * [[CorruptTechLogException]] — silently treating corruption as "no
    * log yet" would let a rerun rewrite every entry's counts to 0. The
    * strict codec ([[graft.Json]]) fails, with its error as the cause, a
    * truncated or empty file, an entry with a missing or null field, a
    * field of the wrong type (a count stored as a string) and a
    * directory at the path (the parquet log older engines wrote); a log
    * with no entry fails too, since the engine never writes one.
    */
  def readTechLog(spark: SparkSession, bronzeRoot: String): Seq[LogEntry] = {
    val path = techLogPath(bronzeRoot)
    if (!Workdirs.exists(spark, path)) Nil
    else {
      val entries = try Json.read[Array[LogEntry]](spark, path).toSeq
        catch { case NonFatal(e) => throw new CorruptTechLogException(path, s"unreadable: ${e.getMessage}", e) }
      if (entries.isEmpty || entries.contains(null)) throw new CorruptTechLogException(path, "no entries, or a null one")
      entries
    }
  }

  /** The tech log cannot be read or parsed, holds no entry, or an entry
    * lacks a field or has one of the wrong type.
    */
  final class CorruptTechLogException(path: String, detail: String, cause: Throwable = null)
    extends IllegalStateException(s"corrupt tech log $path: $detail", cause)

  /** Upsert-by-rewrite of the (tiny, file-count-bounded) tech log — the
    * JSON-file stand-in for the reference's `ON CONFLICT DO UPDATE`. It
    * stays queryable (S9): `spark.read.schema(<LogEntry schema>).json(path)`.
    */
  def writeTechLog(spark: SparkSession, bronzeRoot: String,
                   entries: Seq[LogEntry]): Unit =
    Json.write(spark, techLogPath(bronzeRoot), entries.sortBy(_.file_name))

  /** S11: repair SKIP notes exactly like
    * `scripts/normalize_tech_log.py:4-11` — read → conditional update →
    * overwrite.
    */
  def normalizeTechLog(spark: SparkSession, bronzeRoot: String): Unit = {
    val repaired = readTechLog(spark, bronzeRoot).map { e =>
      if (e.note.startsWith("SKIP: ") && e.rows_orders == 0L)
        e.copy(note = e.note.stripPrefix("SKIP: "))
      else e
    }
    if (repaired.nonEmpty) writeTechLog(spark, bronzeRoot, repaired) // no log yet: none to repair
  }

  /** One incremental run over a landing zone. Returns this run's log
    * entries (the full upserted log is persisted at `bronzeRoot/tech`).
    *
    * Same end state as ingesting the new files one by one in name order:
    *  - a file fails when its orders fail the order gate or its new items
    *    fail the item gate (order violations win within one file). The
    *    files before the first failure are ingested and logged with the
    *    SKIPs before it, the dims are left alone, then its
    *    `QualityGateException` is thrown;
    *  - a key new to bronze that lands in several new files is kept only
    *    in the first (and counts there); duplicates within one file stay.
    */
  def run(spark: SparkSession, landingRoot: String, bronzeRoot: String): Seq[LogEntry] = {
    // every landing read, and every bronze read (bronze tables hold landing
    // rows), declares the schema explode wrote in the manifest: no
    // inference job
    val Landing.Manifest(manifest, schemas) = Landing.readManifest(spark, landingRoot)
    val priorLog = readTechLog(spark, bronzeRoot)
    val prior = priorLog.map(e => e.file_name -> e).toMap
    val runTs = nextRunTs(priorLog)

    // A file is already in bronze when its log entry (OK = ingested, or
    // SKIP = verified-unchanged on a later run; a SKIP record must not
    // invalidate the earlier OK) carries the current manifest fingerprint.
    def processed(f: Landing.LandingFile): Boolean =
      prior.get(f.file).exists(e =>
        (e.status == "OK" || e.status == "SKIP") && e.fingerprint == f.fingerprint)
    def skip(f: Landing.LandingFile) =
      LogEntry(f.file, f.fingerprint, runTs, "SKIP", 0L, 0L, "SKIP: unchanged")

    val orderFiles = manifest.filter(_.file.startsWith("orders_"))
    def period(f: Landing.LandingFile) = f.file.stripPrefix("orders_")
    val fresh = orderFiles.filterNot(processed).map(period)
    val (counts, failure) =
      if (fresh.isEmpty) (Map.empty[String, (Long, Long)], None)
      else ingestOrders(spark, landingRoot, bronzeRoot, fresh, schemas)
    val orderEntries = orderFiles.takeWhile(f => !failure.exists(_._1 == period(f))).map { f =>
      counts.get(period(f)).fold(skip(f)) { case (nOrders, nItems) =>
        LogEntry(f.file, f.fingerprint, runTs, "OK", nOrders, nItems, s"OK: inserted $nOrders")
      }
    }

    val dimEntries = if (failure.nonEmpty) Nil else
      manifest.filter(_.file.endsWith("_full")).map { f =>
        if (processed(f)) skip(f)
        else {
          val name = f.file.stripSuffix("_full")
          // the row count rides the write as an observed metric
          val rows = Observation(f.file)
          spark.read.schema(schemas(name)).parquet(s"$landingRoot/$name")
            .observe(rows, count(lit(1)).as("rows"))
            .write.mode("overwrite").parquet(s"$bronzeRoot/$name") // full REPLACE
          val n = rows.get("rows").asInstanceOf[Long]
          LogEntry(f.file, f.fingerprint, runTs, "OK", n, 0L, s"OK: replaced $n")
        }
      }

    val entries = orderEntries ++ dimEntries
    if (entries.nonEmpty)
      writeTechLog(spark, bronzeRoot, (prior ++ entries.map(e => e.file_name -> e)).values.toSeq)
    failure.foreach { case (_, e) => throw e }
    entries
  }

  /** Gate, stage and append the new order periods `fresh` (sorted) as one
    * set. Returns (orders, items) appended per ingested period, and the
    * first failing period with its gate exception, if any.
    */
  private def ingestOrders(spark: SparkSession, landingRoot: String, bronzeRoot: String,
                           fresh: Seq[String], schemas: Map[String, StructType])
      : (Map[String, (Long, Long)], Option[(String, Quality.QualityGateException)]) = {
    val ordersDir = s"$bronzeRoot/orders"
    val itemsDir = s"$bronzeRoot/lineitem"
    val stage = s"$bronzeRoot/_stage"
    def firstFailure(gate: Seq[(String, Long, Seq[Quality.Violation])]) =
      gate.collectFirst { case (p, _, v) if v.nonEmpty => p -> new Quality.QualityGateException(v) }
    // landing orders and lineitem, and bronze lineitem, are partitioned
    // by a string `period`; bronze orders are landing orders without it
    val orderSchema = schemas("orders")
    val itemSchema = schemas("lineitem")
    val bronzeOrderSchema = StructType(orderSchema.filterNot(_.name == "period"))
    def within(dir: String, schema: StructType, periods: Seq[String]) =
      spark.read.schema(schema).parquet(dir).filter(col("period").isin(periods: _*))
    // a staged frame is read back with the schema it was just written with
    def staged(df: DataFrame, table: String) = {
      df.write.mode("overwrite").parquet(s"$stage/$table")
      spark.read.schema(df.schema).parquet(s"$stage/$table")
    }

    // one order gate over every new period (a period the manifest lists
    // but landing holds no rows for fails NonEmpty)
    val orderFailure = firstFailure(Quality.validateBy(
      within(s"$landingRoot/orders", orderSchema, fresh), "period", fresh,
      Seq(Quality.NonEmpty, Quality.NotNull("o_orderkey"), Quality.NotNull("o_custkey"))))
    val gated = fresh.takeWhile(p => !orderFailure.exists(_._1 == p))
    def newTo(df: DataFrame, dir: String, schema: StructType, keys: String*) =
      if (!Workdirs.exists(spark, dir)) df
      else df.join((if (keys.contains("period")) within(dir, schema, gated)
        else spark.read.schema(schema).parquet(dir)).select(keys.map(col): _*), keys, "left_anti")
    if (gated.isEmpty) (Map.empty, orderFailure)
    else try {
      // Stage new rows BEFORE appending: appending to a path refreshes
      // every cached/derived plan that reads it, so a lazy anti-join
      // would re-evaluate against the already-appended keys after the
      // append and find nothing. Staging is also the crash-safe pattern
      // at scale (append is a rename-in). A key new to bronze in several
      // periods is kept only in the first, as a per-file loop would.
      val newOrders = staged(
        newTo(within(s"$landingRoot/orders", orderSchema, gated),
            ordersDir, bronzeOrderSchema, "o_orderkey")
          .withColumn("__first", min(col("period")).over(Window.partitionBy(col("o_orderkey"))))
          .filter(col("period") === col("__first")).drop("__first"),
        "orders")

      // items of NEW orders only, in their order's period (semi-join
      // J7), then composite-key anti-join (J6), staged the same way;
      // both item scans prune to the new periods
      val newItems = staged(
        newTo(within(s"$landingRoot/lineitem", itemSchema, gated)
            .join(newOrders.select(col("o_orderkey").as("l_orderkey"), col("period")),
              Seq("l_orderkey", "period"), "left_semi"),
          itemsDir, itemSchema, "l_orderkey", "l_linenumber", "period"),
        "lineitem")

      val orderRows = Quality.validateBy(newOrders, "period", gated, Nil)
      val itemGate = Quality.validateBy(newItems, "period", gated,
        Seq(Quality.NotNull("l_orderkey"), Quality.NotNull("l_partkey"),
          Quality.NonNegative("l_extendedprice")))
      val itemFailure = firstFailure(itemGate)
      val ok = gated.takeWhile(p => !itemFailure.exists(_._1 == p))
      val counts = orderRows.zip(itemGate).collect {
        case ((p, nOrders, _), (_, nItems, _)) if ok.contains(p) => p -> (nOrders, nItems)
      }.toMap
      def inOk(df: DataFrame) = df.filter(col("period").isin(ok: _*))

      // ITEMS append FIRST: if the JVM dies between the two appends, a
      // rerun reprocesses the batch, the item anti-join dedups the
      // already-appended items, and the orders append completes — the
      // reverse order would leave the items permanently lost (orders
      // present ⇒ anti-join finds no "new" orders ⇒ no item candidates
      // ever again).
      if (counts.values.exists(_._2 > 0))
        inOk(newItems).write.mode("append").partitionBy("period").parquet(itemsDir)
      if (ok.nonEmpty) inOk(newOrders).drop("period").write.mode("append").parquet(ordersDir)
      (counts, itemFailure.orElse(orderFailure))
    } finally Workdirs.delete(spark, stage) // transient
  }
}
