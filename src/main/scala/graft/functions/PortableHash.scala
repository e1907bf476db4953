package graft.functions

import java.security.MessageDigest
import org.apache.spark.unsafe.types.UTF8String

/** MD5-based "portable" hashing kernels: bit-identical to what ANSI SQL
  * can reproduce (`md5()` + hex-substring), so queries built on them are
  * exactly checkable against the DuckDB oracle — unlike the XXH64 kernels
  * in [[TextHash]], which are the faster production path but exist only
  * on the JVM.
  *
  * The portable 64-bit token hash is hex chars 17..32 of `md5(token)`
  * (digest bytes 8..15) read big-endian — in SQL:
  * `CAST('0x' || substr(md5(tok), 17, 16) AS UBIGINT)`.
  */
object PortableHash {

  private val digestTL: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Digest bytes 8..15 of md5(s) as a big-endian 64-bit value. */
  def md5Hash64(s: String): Long = {
    val md = digestTL.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var out = 0L
    var i = 8
    while (i < 16) {
      out = (out << 8) | (d(i) & 0xffL)
      i += 1
    }
    out
  }

  /** [[md5Hash64]] of a SQL string, decoded to a Java String first. */
  def md5Hash64(s: UTF8String): Long = md5Hash64(s.toString)

  /** 64-bit SimHash over whitespace tokens with the portable token hash:
    * per bit, majority vote of token-hash bits (Charikar's scheme, same
    * shape as [[TextHash.simhash64]]). Tokenization parity with the SQL
    * side: `trim` + split on `\s+` + drop empties ==
    * `list_filter(string_split_regex(trim(text), '\s+'), t -> t != '')`.
    *
    * Round 21: byte-level tokens ([[TextHash.tokenOffsetsJvmTrim]] — the
    * exact Java-trim/regex-split equivalent, unit-locked in
    * TextKernelSpec) feed md5 straight from the original UTF-8 slice, so
    * the per-token String decode + re-encode of the old
    * `tokens(text).map(md5Hash64)` path drops out; the md5 itself (the
    * dominant, semantics-pinned cost) is unchanged.
    */
  def simhash64(text: UTF8String): Long = {
    val b = text.getBytes
    val offs = TextHash.tokenOffsetsJvmTrim(b)
    val md = digestTL.get()
    val d16 = new Array[Byte](16)
    val counts = new Array[Int](64)
    var i = 0
    while (i < offs.length) {
      md.reset()
      md.update(b, offs(i), offs(i + 1) - offs(i))
      md.digest(d16, 0, 16): Unit
      var h = 0L
      var p = 8
      while (p < 16) {
        h = (h << 8) | (d16(p) & 0xffL)
        p += 1
      }
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
        bit += 1
      }
      i += 2
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (counts(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }
}
