package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` columns with
  * typed metadata, feature extraction as a partition-parallel map over
  * the bytes.
  *
  * The DECODE step is a STUB — this container has no image/audio codecs,
  * so [[stubDecodeFeatures]] derives deterministic pseudo-features
  * (byte-histogram moments) from the raw bytes. A real deployment swaps
  * exactly that one function for a codec call (JNI/FFI or a vectorized
  * batch UDF); everything around it — the schema contract, the typed
  * Dataset boundary, partition-level batching, the downstream relational
  * plumbing — is real and tested.
  *
  * Scale posture: `mapPartitions` keeps decode per-executor with zero
  * shuffle; media bytes never hit the driver. Batch shape: one record per
  * row, features as fixed-width `array<double>` so downstream aggs stay
  * columnar/codegen'd.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  case class MediaRecord(media_id: Long, kind: String, media: Array[Byte],
                         source: String, n_bytes: Long)

  /** Extracted features, joined back to metadata relationally. */
  case class MediaFeatures(media_id: Long, n_bytes: Long, features: Array[Double])

  /** Deterministic stand-in for a codec: 4 byte-histogram moments.
    * REPLACE with a real decoder (image resize / audio frame-sample /
    * video frame-grab) in deployment — signature stays the same.
    */
  def stubDecodeFeatures(bytes: Array[Byte]): Array[Double] = {
    if (bytes.isEmpty) return Array(0.0, 0.0, 0.0, 0.0)
    var sum = 0.0; var sumSq = 0.0; var mn = 255.0; var mx = 0.0
    var i = 0
    while (i < bytes.length) {
      val v = (bytes(i) & 0xff).toDouble
      sum += v; sumSq += v * v
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    val n = bytes.length.toDouble
    Array(sum / n, math.sqrt(math.max(0.0, sumSq / n - (sum / n) * (sum / n))), mn, mx)
  }

  /** Wrap a documents-shaped table as a media table (text bytes standing
    * in for image/audio payloads — the plumbing under test, not the codec).
    */
  def asMediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      lit("text/plain").as("kind"),
      encode(col("text"), "UTF-8").as("media"),
      col("source"),
      // BYTE length of the stored payload (length-on-binary), not the
      // character count — they differ on any non-ASCII corpus
      length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes"))

  /** Partition-parallel featurization through the typed Dataset boundary. */
  def featurize(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val ds: Dataset[MediaRecord] = media.as[MediaRecord]
    ds.mapPartitions { it =>
      it.map(r => MediaFeatures(r.media_id, r.n_bytes, stubDecodeFeatures(r.media)))
    }.toDF()
  }
}
