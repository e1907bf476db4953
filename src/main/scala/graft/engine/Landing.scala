package graft.engine

import com.fasterxml.jackson.databind.JsonNode
import graft.Json
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import scala.util.control.NonFatal

/** Landing zone: period-split order files + full dimension dumps + a
  * fingerprint manifest — the reference's `scripts/esplosione_dati.py`
  * (month split :135-154, manifest :22-44,160-165, fingerprints :50-103).
  *
  * Fingerprints are computed DISTRIBUTIVELY as one aggregation per
  * file-group — md5 over (row count, min key, max key, order-free crc32
  * sum of keys, order-free crc32 sum of full-row digests) — never by
  * sorting/collecting ids to the driver the way the reference does in
  * pandas (`esplosione_dati.py:50-103`). The full-row term goes beyond
  * the reference's id-only fingerprint: a file whose keys are unchanged
  * but whose payload was corrected re-fingerprints and is reprocessed
  * instead of silently SKIPped. Note the ingest itself stays insert-only
  * (see Incremental.run) — reprocessing picks up NEW keys in the changed
  * file; corrections to already-ingested rows are dim-style full-replace
  * territory, not order-append territory.
  *
  * The manifest is one JSON file, `_manifest.json`, written and read on
  * the driver through the engine's one codec ([[graft.Json]]), like the
  * tech log. Besides the fingerprints it records the schema each
  * landing table was written with; [[Incremental.run]] reads landing and
  * bronze with it instead of inferring it (one Spark job per inferred
  * read).
  */
object Landing {

  /** One landing file-group: logical name + content fingerprint + rows. */
  final case class LandingFile(file: String, fingerprint: String, rows: Long)

  // null-safe key stringify (F13): a null key must hash as a stable
  // empty token, not vanish from the fingerprint (concat_ws drops nulls)
  private def keyStr(keyCol: String) =
    coalesce(col(keyCol).cast("string"), lit(""))

  // order-free digest of the FULL row (every column, null-safe, with a
  // non-printable separator so "a|b","c" vs "a","b|c" can't collide):
  // a file whose keys are unchanged but whose payload columns were
  // corrected must NOT fingerprint identical, or Incremental.run would
  // silently SKIP the correction
  private def rowDigest(cols: Seq[String]) =
    crc32(concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
      .cast("binary"))

  private def fingerprintAgg(keyCol: String, allCols: Seq[String]) =
    md5(concat_ws("|",
      count(lit(1)),
      coalesce(min(col(keyCol)).cast("string"), lit("")),
      coalesce(max(col(keyCol)).cast("string"), lit("")),
      sum(crc32(keyStr(keyCol).cast("binary"))).cast("string"),
      sum(rowDigest(allCols)).cast("string")))

  /** Split orders into period files (partitioned parquet — `period=YYYY`
    * dirs play the reference's `orders_YYYY-MM.parquet` files), dump
    * dims + lineitem in full, and write the manifest. Returns the
    * manifest entries.
    *
    * `periodFmt` "yyyy" keeps the file count manageable at test scale;
    * "yyyy-MM" reproduces the reference's monthly grain — the pipeline is
    * identical either way, and Incremental.run ingests a run's new files
    * as one set, so the file count does not set its job count.
    */
  def explode(spark: SparkSession, sfDir: String, landingRoot: String,
              periodFmt: String = "yyyy"): Seq[LandingFile] = {
    // an empty orders table or a null order date cannot be period-split
    // (a null date's rows would land in the hive default partition while
    // the manifest says 'orders_null') — fail fast at the landing
    // boundary instead
    val orders = Quality.gate(Tables.orders(spark, sfDir),
        Seq(Quality.NonEmpty, Quality.NotNull("o_orderdate")))
      .withColumn("period", date_format(col("o_orderdate"), periodFmt))
    // the old manifest goes before the first landing write: an explode
    // that dies part-way must not leave it describing new data, which a
    // run would SKIP under the old fingerprints
    Workdirs.delete(spark, manifestPath(landingRoot))
    // period + bounded hash salt (Gold.saltedPartitionedWrite): every
    // period is written by up to `writeFanout` parallel tasks instead of
    // one, with file count still bounded per period
    Gold.saltedPartitionedWrite(orders, "period", col("o_orderkey"),
      s"$landingRoot/orders")
    // items carry their ORDER's period and are partitioned by it, so the
    // incremental item pass prunes to the run's new periods; an item
    // whose order is absent gets a null period (hive default partition)
    // and is never ingested — matching the semi-join-on-new-orders
    // semantics
    val items = Tables.lineitem(spark, sfDir)
      .join(orders.select(col("o_orderkey").as("__ok"), col("period")),
        col("l_orderkey") === col("__ok"), "left")
      .drop("__ok")
    Gold.saltedPartitionedWrite(items, "period", col("l_orderkey"), s"$landingRoot/lineitem")
    // each dim is fingerprinted by its own write, as an observed metric:
    // the same aggregate over the same rows, without a second pass
    val (dimSchemas, dimFps) = Seq("customer" -> "c_custkey", "part" -> "p_partkey").map {
      case (name, key) =>
        val dim = Tables.load(spark, sfDir, name)
        val fp = Observation(s"${name}_full")
        dim.observe(fp, fingerprintAgg(key, dim.columns.toSeq).as("fp"), count(lit(1)).as("rows"))
          .write.mode("overwrite").parquet(s"$landingRoot/$name")
        val r = fp.get
        (name -> dim.schema,
          LandingFile(s"${name}_full", r("fp").asInstanceOf[String], r("rows").asInstanceOf[Long]))
    }.unzip

    val orderCols = orders.columns.filterNot(_ == "period").toSeq
    val orderFps = orders.groupBy(col("period"))
      .agg(fingerprintAgg("o_orderkey", orderCols).as("fp"), count(lit(1)).as("rows"))
      .collect()
      .map(r => LandingFile(s"orders_${r.getString(0)}", r.getString(1), r.getLong(2)))
    val manifest = Manifest((orderFps.toSeq ++ dimFps).sortBy(_.file),
      (Seq("orders" -> orders.schema, "lineitem" -> items.schema) ++ dimSchemas).toMap)
    writeManifest(spark, landingRoot, manifest)
    manifest.files
  }

  /** What [[explode]] wrote: every file-group, sorted by name, and the
    * schema each landing table was written with (orders and lineitem
    * with their string `period` partition column), by table name.
    */
  final case class Manifest(files: Seq[LandingFile], schemas: Map[String, StructType])

  /** The manifest as stored: each schema is Spark's JSON rendering of its
    * [[StructType]], kept as a JSON object.
    */
  private final case class Stored(files: Seq[LandingFile], schemas: Map[String, JsonNode])

  private def manifestPath(landingRoot: String): String = s"$landingRoot/_manifest.json"

  /** The manifest as one JSON file (S12, the reference's `_manifest.json`),
    * written on the driver: no Spark job.
    */
  private def writeManifest(spark: SparkSession, landingRoot: String, m: Manifest): Unit =
    Json.write(spark, manifestPath(landingRoot),
      Stored(m.files, m.schemas.map { case (name, schema) => name -> Json.parse[JsonNode](schema.json) }))

  /** The manifest, read and parsed on the driver: no Spark job. A missing
    * or unparsable file, a missing or null field, a manifest with no entry
    * (explode gates orders NonEmpty, so it never writes one) and a table
    * a run reads without a schema each throw [[CorruptManifestException]]
    * instead of yielding a run that silently ingests nothing or fails
    * part-way.
    */
  def readManifest(spark: SparkSession, landingRoot: String): Manifest = {
    val path = manifestPath(landingRoot)
    val m =
      try {
        val stored = Json.read[Stored](spark, path)
        Manifest(stored.files.sortBy(_.file), stored.schemas.map { case (name, schema) =>
          name -> DataType.fromJson(schema.toString).asInstanceOf[StructType] })
      } catch { case NonFatal(e) => throw new CorruptManifestException(path, s"unreadable: ${e.getMessage}", e) }
    if (m.files.isEmpty) throw new CorruptManifestException(path, "no entries")
    val unschemed = (Seq("orders", "lineitem") ++ m.files.map(_.file)
      .filter(_.endsWith("_full")).map(_.stripSuffix("_full"))).filterNot(m.schemas.contains)
    if (unschemed.nonEmpty)
      throw new CorruptManifestException(path, s"no schema for ${unschemed.mkString(", ")}")
    m
  }

  /** The manifest is missing or cannot be parsed (the read's error is
    * the cause), a field is missing or null, it holds no entry, or it
    * lacks the schema of a table a run reads.
    */
  final class CorruptManifestException(path: String, detail: String, cause: Throwable = null)
    extends IllegalStateException(s"corrupt landing manifest $path: $detail", cause)
}
