package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale rehearsal data generator: `runMain graft.ScaleData [srcDir [destDir [factor]]]`
  * replicates the driver's sf0.1 tables `factor`× into destDir so the
  * full bench can be rehearsed one order of magnitude up (the round-5
  * verdict's sf1 item) without touching the read-only /root/testdata.
  *
  * Replication is FK-consistent and distribution-honest:
  *  - region/nation are fixed dims (TPC-H semantics) — copied as-is;
  *  - every other table is unioned `factor` times with replica `rep`
  *    shifting each key column by `rep × stride(key)`, where the stride
  *    is that key's own `max+1` in the source — so replica key ranges
  *    never collide, and orders.o_custkey lands on the same shifted
  *    customer row in every replica (joins keep their 1:N shape and
  *    per-key group sizes, which is what makes the rehearsal honest:
  *    a 10× blowup of group COUNT instead would be a skew test, not a
  *    scale test);
  *  - documents.text gets a per-replica token suffix on every word:
  *    shingle sets across replicas become disjoint, so MinHash/SimHash
  *    near-dup candidate pairs scale ~linearly like real corpus growth
  *    would, instead of every doc gaining `factor-1` exact clones and
  *    the in-bucket pair joins exploding quadratically;
  *  - embeddings.embedding is rotated by `rep` positions — norm-
  *    preserving and (for these pseudo-random vectors) decorrelating,
  *    so cosine near-dup pair counts also stay ~linear while brute-force
  *    and IVF kNN cost scales exactly with corpus size;
  *  - every timestamp column (orders.o_orderdate, lineitem.l_shipdate,
  *    events.ts) shifts by `rep × T`, where T is ONE global stride (the
  *    union span of all three columns, day-ceiled, +8 days margin — wider
  *    than any window/interval a query uses). Replicas become
  *    time-DISJOINT, so interval density stays flat under replication —
  *    a 10× corpus means 10× history, not 10× traffic crammed into the
  *    same dates (the round-16 o33 finding: fixed-span replication made
  *    matches-per-7-day-bin grow with the replication factor, and the
  *    range join's true output grew quadratically). One shared stride —
  *    not per-column spans — keeps every cross-table time relation
  *    translation-invariant inside a replica: datediff(l_shipdate,
  *    o_orderdate), the as-of event→order lookup, and the dim_time grain
  *    join all see exactly their rep-0 values. Queries with absolute
  *    date literals (the TPC-H-shaped q-suite) intentionally keep
  *    constant-size output under this model — they select a fixed
  *    historical slice, which is what a date-literal query over a
  *    growing archive does in production;
  *  - rep 0 is byte-identical to the source, so every sf0.1 result is a
  *    subset of the sf1 input.
  */
object ScaleData {

  /** Key columns to shift per table, each with the stride source column
    * it derives from (tables shift FOREIGN keys by the REFERENCED
    * table's stride so joins stay aligned).
    */
  private val keyPlan: Map[String, Seq[(String, (String, String))]] = Map(
    "customer"   -> Seq("c_custkey" -> ("customer", "c_custkey")),
    "supplier"   -> Seq("s_suppkey" -> ("supplier", "s_suppkey")),
    "part"       -> Seq("p_partkey" -> ("part", "p_partkey")),
    "orders"     -> Seq(
      "o_orderkey" -> ("orders", "o_orderkey"),
      "o_custkey"  -> ("customer", "c_custkey")),
    "lineitem"   -> Seq(
      "l_orderkey" -> ("orders", "o_orderkey"),
      "l_partkey"  -> ("part", "p_partkey"),
      "l_suppkey"  -> ("supplier", "s_suppkey")),
    "events"     -> Seq(
      "event_id" -> ("events", "event_id"),
      "user_id"  -> ("events", "user_id")),
    "documents"  -> Seq("doc_id" -> ("documents", "doc_id")),
    "embeddings" -> Seq(
      "vec_id" -> ("embeddings", "vec_id"),
      // label IS a key: it's the upstream coarse quantizer's cluster id,
      // and the quantizer's ingest contract is capacity-bounded clusters
      // — label cardinality grows with the corpus, per-label group size
      // stays put. Leaving it unshifted made every label-grouped
      // operator (o42's label-equi self-join: Σ|cluster|²) grow
      // QUADRATICALLY in the rehearsal while production grows linearly —
      // the exact distribution dishonesty this generator exists to avoid
      // (measured: o42 sf1→sf10 went 34× for 10× data before this shift).
      "label"  -> ("embeddings", "label"))
  )

  /** Timestamp columns shifted by `rep × T` (one GLOBAL stride across all
    * of them — see the class doc's time-disjointness argument).
    */
  private val timePlan: Map[String, Seq[String]] = Map(
    "orders"   -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"),
    "events"   -> Seq("ts"))

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val destDir = args.lift(1).getOrElse("testdata-sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Session.local()

    def src(t: String): DataFrame =
      graft.engine.Tables.load(spark, srcDir, t)

    // one stride per (table, key): max+1 in the SOURCE, so shifted
    // replica ranges are disjoint and FK targets line up across tables
    val strides: Map[(String, String), Long] =
      keyPlan.values.flatten.map(_._2).toSeq.distinct.map { case ref @ (t, c) =>
        ref -> (src(t).agg(max(col(c)).cast("long")).head().getLong(0) + 1L)
      }.toMap

    // ONE time stride for every timestamp column: union span of all of
    // them, day-ceiled, +8 days margin (wider than any query window: the
    // o33 7-day interval, the 1h/30m sliding windows, session gaps). A
    // single shared value keeps cross-table time relations
    // translation-invariant within a replica. Whole days + day-time
    // interval arithmetic so the driver's TIMESTAMP_NTZ physical type is
    // preserved exactly (unix_micros/timestamp_micros would force LTZ
    // and silently flip the parquet isAdjustedToUTC flag).
    val timeStrideDays: Long = {
      val spans = timePlan.toSeq.flatMap { case (t, cols) =>
        cols.map { c =>
          val r = src(t).agg(
            min(col(c).cast("date")), max(col(c).cast("date"))).head()
          (r.getDate(0).toLocalDate.toEpochDay, r.getDate(1).toLocalDate.toEpochDay)
        }
      }
      spans.map(_._2).max - spans.map(_._1).min + 1 + 8
    }

    def replicate(t: String): DataFrame = {
      val base = src(t)
      val shifted = keyPlan(t)
      val reps = base.withColumn("rep", explode(lit((0 until factor).toArray)))
      val keyed = shifted.foldLeft(reps) { case (df, (key, ref)) =>
        // cast back to the source column's type: the long stride product
        // must not silently widen a 32-bit key's parquet schema. That
        // cast is non-ANSI, so first PROVE the largest shifted key fits
        // the source type — a silent wrap would collide keys across
        // replicas, the exact distribution dishonesty this generator
        // exists to avoid. maxKey = stride-1, so the ceiling is
        // factor·stride - 1.
        val keyType = base.schema(key).dataType
        val typeMax: Long = keyType match {
          case org.apache.spark.sql.types.ByteType    => Byte.MaxValue
          case org.apache.spark.sql.types.ShortType   => Short.MaxValue
          case org.apache.spark.sql.types.IntegerType => Int.MaxValue
          case _                                      => Long.MaxValue
        }
        val stride = strides(ref)
        val ceiling = BigInt(factor) * stride - 1 // BigInt: the guard itself must not wrap
        require(ceiling <= typeMax,
          s"$t.$key: shifted key ceiling $ceiling overflows $keyType " +
            s"(max $typeMax) — refusing to replicate with silent key " +
            "wrap-around")
        df.withColumn(key, (col(key) + col("rep") * lit(stride))
          .cast(keyType))
      }
      // per-replica time shift (exact whole-day interval arithmetic,
      // NTZ-preserving; rep 0 adds 0 days, preserving byte-identity)
      val timed = timePlan.getOrElse(t, Seq.empty).foldLeft(keyed) {
        case (df, c) =>
          df.withColumn(c,
            col(c) + make_dt_interval(col("rep") * lit(timeStrideDays)))
      }
      val transformed = t match {
        case "documents" =>
          // suffix every word for rep>0: shingles across replicas are
          // disjoint, so near-dup structure grows linearly, not as clones
          timed.withColumn("text",
            when(col("rep") === 0, col("text")).otherwise(
              array_join(
                transform(split(col("text"), " "),
                  w => concat(w, lit("_r"), col("rep"))), " ")))
            .withColumn("n_chars", length(col("text")))
        case "embeddings" =>
          // rotate by rep MOD dimension positions: norm-preserving,
          // decorrelates the pseudo-random vectors so cosine pairs
          // don't degenerate. The pmod guard matters for factor >
          // embedding dimension: an unguarded rep there drives
          // slice() lengths negative and silently corrupts vectors
          timed
            .withColumn("__r", pmod(col("rep"), size(col("embedding"))))
            .withColumn("embedding",
              when(col("__r") === 0, col("embedding")).otherwise(
                concat(
                  slice(col("embedding"), col("__r") + 1,
                    size(col("embedding")) - col("__r")),
                  slice(col("embedding"), lit(1), col("__r")))))
            .drop("__r")
        case _ => timed
      }
      transformed.drop("rep")
    }

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(destDir))
    val fixed = Seq("region", "nation")
    val scaled = keyPlan.keys.toSeq.sorted
    (fixed ++ scaled).foreach { t =>
      val out = s"$destDir/$t.parquet"
      val df = if (fixed.contains(t)) src(t) else replicate(t)
      // the driver's tables are single parquet FILES; our Tables loader
      // accepts directories too, so a directory-per-table output is fine
      // — but keep per-table partition counts proportional to size so
      // the sf1 scan parallelism resembles a real sf1 export. Row count
      // is source-metadata-count × factor (exact: replicate() unions
      // factor full copies) so the replicate lineage executes ONCE, in
      // the write — counting df itself would run the whole explode +
      // transform a second time for a number already known.
      val rows = if (fixed.contains(t)) src(t).count()
                 else src(t).count() * factor
      val parts = math.max(1, (rows / 150000L).toInt)
      df.repartition(parts).write.mode("overwrite").parquet(out)
      println(s"[scale] $t -> $out ($parts files)")
    }
    spark.stop()
  }
}
