package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.graftbridge.Bridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}

/** Every graft codegen kernel, as a Column and (for the SQL-facing ones)
  * as a SQL function.
  *
  * A kernel is a static method on one of the kernel objects
  * ([[TextHash]], [[TextKernels]], [[PortableHash]], [[MediaKernels]],
  * [[SetKernels]], [[VectorKernels]]) wrapped in one Catalyst
  * `StaticInvoke`. Whole-stage codegen emits a direct call to the
  * object's static forwarder with int parameters inlined as literals; a
  * null argument yields null, and `returnNullable = false` keeps the
  * result non-null otherwise. This is the preference order from
  * SURVEY §7.4: compose built-ins where possible, a codegen'd kernel
  * where one tight JVM loop per row beats a tree of interpreted
  * higher-order functions.
  *
  * The SQL surface lets text-to-SQL users (SURVEY §2.12) call the
  * kernels from plain SELECTs over the gold views:
  *
  * {{{
  *   SELECT doc_id, simhash64(text)          FROM documents_view
  *   SELECT minhash(text, 32, 3)             FROM documents_view
  *   SELECT dot_product(a, b)                ...
  * }}}
  */
object GraftFunctions {

  private def kernel(kernels: AnyRef, method: String, dataType: DataType,
                     cols: Seq[Column], ints: Int*): Column =
    column(StaticInvoke(kernels.getClass, dataType, method,
      cols.map(expression) ++ ints.map(Literal(_)), returnNullable = false))

  private val Longs = ArrayType(LongType, containsNull = false)
  private val Strings = ArrayType(StringType, containsNull = false)
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  /** XXH64 SimHash of the whitespace tokens. */
  def simhash64(text: Column): Column = kernel(TextHash, "simhash64", LongType, Seq(text))
  /** XXH64 MinHash signature over w-token shingles. */
  def minhash(text: Column, k: Int = 32, shingleWidth: Int = 3): Column =
    kernel(TextHash, "minhash", Longs, Seq(text), k, shingleWidth)
  /** Bottom-k XXH64 shingle hashes, ascending. */
  def docFingerprint(text: Column, k: Int = 8, shingleWidth: Int = 3): Column =
    kernel(TextHash, "bottomK", Longs, Seq(text), k, shingleWidth)
  /** `trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))`. */
  def normalizeAlnum(text: Column): Column =
    kernel(TextHash, "normalizeAlnum", StringType, Seq(text))

  /** Portable (md5-token) SimHash, reproducible in the DuckDB oracle. */
  def simhashPortable64(text: Column): Column =
    kernel(PortableHash, "simhash64", LongType, Seq(text))
  /** Digest bytes 8..15 of md5(s) as a big-endian long — in SQL
    * `CAST(('0x' || substr(md5(s), 17, 16)) AS UBIGINT)` (DuckDB) holds
    * the same 64 bits. Feeds sketches whose answers the oracle must
    * reproduce (x03, x06).
    */
  def md5Hash64(s: Column): Column = kernel(PortableHash, "md5Hash64", LongType, Seq(s))

  /** All w-token shingles of the SQL-trim tokens, in position order. */
  def shingles(text: Column, w: Int): Column =
    kernel(TextKernels, "shingles", Strings, Seq(text), w)
  /** Distinct w-token shingles, first-occurrence order. */
  def shingleSet(text: Column, w: Int): Column =
    kernel(TextKernels, "shingleSet", Strings, Seq(text), w)
  /** The o27/o59/o64 winnowing fingerprint (portable md5-based hash32). */
  def portableFingerprint(text: Column): Column =
    kernel(TextKernels, "fingerprint", StringType, Seq(text))
  /** The o71 chunk ledger: one struct per stride-window of w tokens. */
  def chunkLedger(text: Column, w: Int, stride: Int): Column =
    kernel(TextKernels, "chunkLedger",
      ArrayType(struct("n_chunk_tokens" -> LongType, "chunk_md5" -> StringType),
        containsNull = false), Seq(text), w, stride)
  /** The o25/o28 per-doc counters over [[TextKernels.Stopwords]]. */
  def qualityStats(text: Column): Column =
    kernel(TextKernels, "qualityStats", struct("n_tokens" -> LongType,
      "n_bpeish" -> LongType, "n_punct" -> LongType, "n_stop" -> LongType), Seq(text))

  /** x08: `(frame_len, md5(hex(frame)))` per strided frame of the payload. */
  def frameLedger(media: Column, frameSize: Int, step: Int): Column =
    kernel(MediaKernels, "frameLedger",
      ArrayType(struct("frame_len" -> LongType, "frame_md5" -> StringType),
        containsNull = false), Seq(media), frameSize, step)
  /** x09: md5 of the resized payload's uppercase hex. */
  def resizeMd5(media: Column, target: Int): Column =
    kernel(MediaKernels, "resizeMd5", StringType, Seq(media), target)

  /** Intersection size of two ascending-sorted `array<string>`s. */
  def sortedIntersectSize(a: Column, b: Column): Column =
    kernel(SetKernels, "sortedIntersectSize", LongType, Seq(a, b))
  /** Intersection size of two ascending-sorted `array<long>`s. */
  def sortedIntersectSizeLong(a: Column, b: Column): Column =
    kernel(SetKernels, "sortedIntersectSizeLong", LongType, Seq(a, b))

  /** Sequential left-fold dot product. The declared input types make the
    * analyzer widen `array<float>`/`array<int>` arguments (e.g. a raw
    * embeddings column through SQL `dot_product`) to `array<double>`
    * instead of mis-reading element storage at the wrong width.
    */
  def dot(a: Column, b: Column): Column =
    column(StaticInvoke(VectorKernels.getClass, DoubleType, "dot",
      Seq(expression(a), expression(b)),
      inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType)),
      returnNullable = false))

  /** Optional int parameter `i` of a SQL call: a literal ≥ 1, checked
    * when the expression is built (a zero or negative k/width would
    * otherwise fail inside a task or silently hash nothing).
    */
  private def intArg(args: Seq[Column], i: Int, what: String, default: Int): Int =
    if (args.length <= i) default
    else expression(args(i)) match {
      case Literal(v: Int, IntegerType) if v >= 1 => v
      case other => throw new IllegalArgumentException(
        s"$what must be a positive integer literal, got $other")
    }

  private def sql(f: Seq[Column] => Column): Seq[Expression] => Expression =
    args => expression(f(args.map(column)))

  /** SQL name → expression builder, as [[register]] installs them. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash64" -> sql(a => simhash64(a(0))),
    "simhash_portable64" -> sql(a => simhashPortable64(a(0))),
    "minhash" -> sql(a =>
      minhash(a(0), intArg(a, 1, "k", 32), intArg(a, 2, "shingleWidth", 3))),
    "doc_fingerprint" -> sql(a =>
      docFingerprint(a(0), intArg(a, 1, "k", 8), intArg(a, 2, "shingleWidth", 3))),
    "dot_product" -> sql(a => dot(a(0), a(1))),
    "sorted_intersect_size" -> sql(a => sortedIntersectSize(a(0), a(1))),
    "sorted_intersect_size_long" -> sql(a => sortedIntersectSizeLong(a(0), a(1))))

  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, builder) =>
      Bridge.registerFunction(spark, name, builder)
    }
}
