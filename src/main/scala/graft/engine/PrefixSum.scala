package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed EXCLUSIVE prefix sum — the o58/o79 chunked cumsum (round
  * 21, global-window sweep). [[cumBefore]] runs the whole pattern over a
  * dense id space: per-chunk sums, [[exclusiveOffsets]] over the chunk
  * frame, broadcast back, then a window within each chunk.
  * [[exclusiveOffsets]] turns the per-chunk frame into per-chunk
  * exclusive offsets WITHOUT a single global window over the whole chunk
  * frame: chunks are grouped into super-chunks of
  * `superChunk`, the one remaining `Window.orderBy` runs over the
  * super-chunk frame — data/(chunkSize·superChunk) rows, i.e. ~10⁵ rows
  * on one partition for a 10¹¹-doc corpus at the default sizes, bounded
  * metadata — and within a super-chunk the window partitions by sc.
  *
  * Exactness: all sums are integer (long) arithmetic — regrouping terms
  * is exact, so the offsets equal the single-window cumsum bit-for-bit
  * (unit-locked in TextQueriesSpec).
  */
object PrefixSum {

  /** (keyCol, "offset") — offset = Σ valueCol over rows with key < this
    * row's key. `df` must carry one row per key.
    */
  def exclusiveOffsets(df: DataFrame, keyCol: String, valueCol: String,
                       superChunk: Long = 1024L): DataFrame = {
    val sc = floor(col(keyCol) / superChunk)
    val withSc = df.select(col(keyCol), col(valueCol), sc.as("psc"))
    // super-chunk totals → exclusive offsets over the (tiny) sc frame:
    // the only partition-free window, data/(chunk·superChunk) rows
    val scOffsets = withSc.groupBy(col("psc"))
      .agg(sum(col(valueCol)).as("psc_sum"))
      .withColumn("psc_offset", coalesce(sum(col("psc_sum")).over(
        Window.orderBy(col("psc"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("psc"), col("psc_offset"))
    // within a super-chunk: keyed window, ≤ superChunk rows per partition
    withSc
      .withColumn("in_sc", coalesce(sum(col(valueCol)).over(
        Window.partitionBy(col("psc")).orderBy(col(keyCol))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(broadcast(scOffsets), "psc")
      .select(col(keyCol), (col("psc_offset") + col("in_sc")).as("offset"))
  }

  /** `df` plus `cum_before` = Σ valueCol over rows with a smaller idCol,
    * for a dense long `idCol`. Ids are cut into chunks of `chunkSize`:
    * the only partition-free window runs over the chunk offsets
    * ([[exclusiveOffsets]]), and each chunk's rows are summed by a window
    * partitioned by chunk. Adds `chunk` and `offset` columns too.
    */
  def cumBefore(df: DataFrame, idCol: String, valueCol: String, chunkSize: Long): DataFrame = {
    val chunked = df.withColumn("chunk", floor(col(idCol) / chunkSize))
    val offsets = exclusiveOffsets(
      chunked.groupBy(col("chunk")).agg(sum(col(valueCol)).as("chunk_sum")),
      "chunk", "chunk_sum")
    chunked.join(broadcast(offsets), "chunk")
      .withColumn("cum_before",
        col("offset") + coalesce(sum(col(valueCol)).over(
          Window.partitionBy(col("chunk")).orderBy(col(idCol))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
  }
}
