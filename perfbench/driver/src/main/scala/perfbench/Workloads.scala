package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.engine.{Gold, Incremental, Landing, MedallionQueries, Tables}

import Driver.{curationOps, deleteTree, dirStats, freshLink, goldDir, refreshQueries}

final case class PassState(root: String, day1: String,
                           m1: Seq[Landing.LandingFile], m2: Seq[Landing.LandingFile],
                           cold: Seq[Incremental.LogEntry], delta: Seq[Incremental.LogEntry])

/** Write path. A pass runs landing → bronze (cold: every file new) →
  * silver gate + gold → the dashboard refresh (the eight Analytics queries
  * and the two SQL-surface queries), then the day-2 landing and the delta
  * ingest, all on fresh paths. */
final class Nightly(a0: Driver.Args, r0: Recorder, o0: Ops) extends Workload(a0, r0, o0) {
  private var last: Option[PassState] = None
  private val layerDirs = mutable.ArrayBuffer[String]()
  private val refreshed = mutable.LinkedHashMap[String, (Array[Row], StructType)]()

  def setup(spark: SparkSession, rep: Int): Unit = {
    graft.functions.GraftFunctions.register(spark)
    Seq("orders", "lineitem", "customer", "part", "nation", "region")
      .foreach(t => Tables.load(spark, in("day1"), t).count())
  }

  // one day-1 chain on a small one-year input: the day-2 steps call the
  // same two functions, and the JIT cost does not depend on the data size
  override def warmup(spark: SparkSession): Unit = drop(chain(spark, "warm", "warm", None))

  def pass(spark: SparkSession, i: Int): Unit = {
    val p = chain(spark, s"pass-$i", "day1", Some("day2"))
    last.foreach(drop)
    last = Some(p)
  }

  private def drop(p: PassState): Unit = {
    deleteTree(Paths.get(p.root))
    deleteTree(Paths.get(goldDir(p.day1)))
  }

  private def chain(spark: SparkSession, tag: String, input1: String,
                    input2: Option[String]): PassState = {
    val day1 = freshLink(a.work, in(input1), s"$tag-day1")
    val root = s"${a.work}/$tag"
    val landing = s"$root/landing"
    val bronze = s"$root/bronze"
    // layer directory sizes, read between steps only while tracing
    val dirs = mutable.LinkedHashMap[String, String]()
    def sizes(key: String, dir: String): Unit = if (rec.tracing) {
      val (f, b) = dirStats(dir)
      dirs(key) = J.obj("files" -> f.toString, "bytes" -> b.toString)
    }
    var m1: Seq[Landing.LandingFile] = Nil
    var cold: Seq[Incremental.LogEntry] = Nil
    rec.span("pipeline", "window") {
      m1 = op("landing.explode")(Landing.explode(spark, day1, landing)).getOrElse(Nil)
      sizes("landing", landing)
      sizes("bronze_before_cold", bronze)
      cold = op("incremental.cold")(Incremental.run(spark, landing, bronze)).getOrElse(Nil)
      sizes("bronze_after_cold", bronze)
      op("gold.ensure", blocks = true)(Gold.ensure(spark, day1))
      sizes("gold", goldDir(day1))
      refreshQueries.foreach { case (layer, q) =>
        op(s"$layer.$q") {
          var df: DataFrame = null
          val rows = query(layer) { df = SparkEntry.queries(q)(spark, day1); df }
          refreshed(q) = (rows, df.schema)
        }
      }
    }
    var m2: Seq[Landing.LandingFile] = Nil
    var delta: Seq[Incremental.LogEntry] = Nil
    input2.foreach(in2 => rec.span("delta", "window") {
      val day2 = freshLink(a.work, in(in2), s"$tag-day2")
      m2 = op("landing.explode_day2")(Landing.explode(spark, day2, landing)).getOrElse(Nil)
      sizes("landing_day2", landing)
      sizes("bronze_before_delta", bronze)
      delta = op("incremental.delta")(Incremental.run(spark, landing, bronze)).getOrElse(Nil)
      sizes("bronze_after_delta", bronze)
    })
    if (dirs.nonEmpty) layerDirs += J.obj(("pass" -> rec.pass.toString) +: dirs.toSeq: _*)
    PassState(root, day1, m1, m2, cold, delta)
  }

  override def extra: Seq[(String, String)] = Seq("layer_dirs" -> J.arr(layerDirs))

  def checks(spark: SparkSession): String = {
    val p = last.get
    def manifest(m: Seq[Landing.LandingFile]) = J.arr(m.map(f =>
      J.obj("file" -> J.str(f.file), "fingerprint" -> J.str(f.fingerprint),
        "rows" -> f.rows.toString)))
    def log(l: Seq[Incremental.LogEntry]) = J.arr(l.map(e =>
      J.obj("file" -> J.str(e.file_name), "status" -> J.str(e.status),
        "rows_orders" -> e.rows_orders.toString, "rows_items" -> e.rows_items.toString)))
    val orders = spark.read.parquet(s"${p.root}/bronze/orders")
      .selectExpr("count(*)", "count(distinct o_orderkey)").head()
    val items = spark.read.parquet(s"${p.root}/bronze/lineitem")
      .selectExpr("count(*)", "count(distinct l_orderkey, l_linenumber)").head()
    val fact = spark.read.parquet(s"${goldDir(p.day1)}/fact_sales").count()
    J.obj("manifest_day1" -> manifest(p.m1), "manifest_day2" -> manifest(p.m2),
      "run_cold" -> log(p.cold), "run_delta" -> log(p.delta),
      "bronze_orders" -> orders.getLong(0).toString,
      "bronze_distinct_orders" -> orders.getLong(1).toString,
      "bronze_items" -> items.getLong(0).toString,
      "bronze_distinct_items" -> items.getLong(1).toString,
      "gold_fact_rows" -> fact.toString,
      "fact_sql" -> J.str(MedallionQueries.factSql),
      "oracle" -> dumpRows(spark, p.day1))
  }

  /** The last pass's refresh results, as the oracle reads them. */
  private def dumpRows(spark: SparkSession, sfDir: String): String = {
    refreshed.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dumpDir/$q")
    }
    oracleIndex(sfDir, refreshQueries.map(_._2))
  }
}

/** Curation operators from the registry; a pass runs each of them into the
  * `noop` sink. The warm-up runs the same operators on the same corpus into
  * parquet, which is the output the oracle checks. */
final class Curation(a0: Driver.Args, r0: Recorder, o0: Ops) extends Workload(a0, r0, o0) {
  def setup(spark: SparkSession, rep: Int): Unit = {
    graft.functions.GraftFunctions.register(spark)
    Tables.documents(spark, in("corpus")).count()
    Tables.embeddings(spark, in("corpus")).count()
  }

  override def warmup(spark: SparkSession): Unit = curationOps.foreach { q =>
    try SparkEntry.queries(q)(spark, in("corpus")).coalesce(1).write.mode("overwrite")
      .parquet(s"$dumpDir/$q")
    catch { case e: Exception => op.errors.add(s"dump $q: ${e.getClass.getName}: ${e.getMessage}") }
  }

  def pass(spark: SparkSession, i: Int): Unit = curationOps.foreach { q =>
    op(s"curation.$q", blocks = true)(
      SparkEntry.queries(q)(spark, in("corpus")).write.format("noop").mode("overwrite").save())
  }

  def checks(spark: SparkSession): String =
    J.obj("oracle" -> oracleIndex(in("corpus"), curationOps))
}
