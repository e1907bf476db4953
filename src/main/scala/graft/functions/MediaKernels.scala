package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass byte kernels for the multimodal ledger queries (round 21
  * continuation). The Column chains they replace — x08's
  * `transform(sequence(...), i => media.substr(...))` + per-frame
  * `md5(encode(hex(frame), "UTF-8"))` and x09's 64-slot `transform` of
  * substr+hex — run the HOF lambdas INTERPRETED (`ArrayTransform` is
  * CodegenFallback) and allocate a binary slice + an uppercase-hex
  * string + a re-encoded byte array per frame; these kernels hex
  * directly into one reused buffer and md5 it in place, inside
  * whole-stage codegen.
  *
  * Exactness (value-equality locked in MediaKernelSpec against the
  * verbatim old chains): Spark's `hex()` emits UPPERCASE hex; `encode(s,
  * "UTF-8")` of a hex string is its ASCII bytes; `md5()` emits lowercase
  * hex — all replicated byte-for-byte below.
  */
object MediaKernels {

  private val digestTL: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  private val hexUpper = "0123456789ABCDEF".getBytes
  private val hexLower = "0123456789abcdef".getBytes

  @inline private def md5Hex(md: MessageDigest, buf: Array[Byte], len: Int): UTF8String = {
    md.reset()
    md.update(buf, 0, len)
    val d16 = md.digest()
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      val v = d16(i) & 0xff
      out(2 * i) = hexLower(v >>> 4)
      out(2 * i + 1) = hexLower(v & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** The x08 frame ledger: every `step`-strided `frameSize`-byte frame of
    * `media` as `(frame_len, md5(hex(frame)))` — value-equal to
    * `transform(sequence(0, (n-1) div step), i => substr(media, i*step+1,
    * frameSize))` + `length(frame)` + `md5(encode(hex(frame), "UTF-8"))`.
    * Caller guarantees n ≥ 1 (the `n_bytes > 0` filter).
    */
  def frameLedger(media: Array[Byte], frameSize: Int, step: Int): ArrayData = {
    val n = media.length
    val nFrames = (n - 1) / step + 1
    val out = new Array[AnyRef](nFrames)
    val md = digestTL.get()
    val hx = new Array[Byte](2 * frameSize)
    var k = 0
    while (k < nFrames) {
      val s = k * step
      val len = math.min(frameSize, n - s)
      var i = 0
      while (i < len) {
        val v = media(s + i) & 0xff
        hx(2 * i) = hexUpper(v >>> 4)
        hx(2 * i + 1) = hexUpper(v & 0xf)
        i += 1
      }
      out(k) = new GenericInternalRow(Array[Any](len.toLong, md5Hex(md, hx, 2 * len)))
      k += 1
    }
    new GenericArrayData(out)
  }

  /** The x09 resize digest: md5 of the uppercase hex of the
    * strided-downsampled payload — value-equal to
    * `when(n <= target, hex(media)).otherwise(array_join(transform(
    * sequence(0, target-1), i => hex(substr(media,
    * (floor((i*n)/target.toDouble)+1).cast(int), 1))), ""))` fed through
    * `md5(encode(_, "UTF-8"))`. The sample position replicates the
    * Column chain's double arithmetic exactly
    * (`floor(longProduct.toDouble / target)`). Caller guarantees n ≥ 1.
    */
  def resizeMd5(media: Array[Byte], target: Int): UTF8String = {
    val n = media.length
    val md = digestTL.get()
    if (n <= target) {
      val hx = new Array[Byte](2 * n)
      var i = 0
      while (i < n) {
        val v = media(i) & 0xff
        hx(2 * i) = hexUpper(v >>> 4)
        hx(2 * i + 1) = hexUpper(v & 0xf)
        i += 1
      }
      md5Hex(md, hx, 2 * n)
    } else {
      val hx = new Array[Byte](2 * target)
      var i = 0
      while (i < target) {
        val pos = math.floor((i.toLong * n).toDouble / target.toDouble).toLong.toInt
        val v = media(pos) & 0xff
        hx(2 * i) = hexUpper(v >>> 4)
        hx(2 * i + 1) = hexUpper(v & 0xf)
        i += 1
      }
      md5Hex(md, hx, 2 * target)
    }
  }
}
