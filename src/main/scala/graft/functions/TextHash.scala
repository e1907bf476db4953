package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic 64-bit text hashing kernels used by the dedup suite
  * (as Columns via [[GraftFunctions.simhash64]], [[GraftFunctions.minhash]]).
  *
  * Top-level object ⇒ Scala emits static forwarders, so generated Java
  * (whole-stage codegen) can call `graft.functions.TextHash.simhash64(s)`
  * directly. Hashing is Spark's own XXH64 (xxHash, the hash behind
  * `F.xxhash64`), applied to whitespace tokens / 3-token shingles.
  */
object TextHash {

  private val Seed = 42L

  // ---------------------------------------------------------------------
  // Byte-level tokenizer core (round 21). The String-world pipeline it
  // replaced (decode UTF-8 → trim → regex split → re-encode every token/shingle
  // for every hash call) dominated the signature kernels' cost: the
  // MinHash loop re-encoded each shingle k=32 times. The byte scan below
  // produces token [start,end) offsets directly on the UTF-8 bytes, and
  // shingle bytes are composed once into a reusable buffer, so each
  // shingle is ENCODED exactly once however many seeds hash it.
  //
  // Exactness argument (unit-locked in TextKernelSpec against the String
  // pipeline, kept as the test sources' `Reference.tokens`/`shingles`): `\s` is the ASCII set {09,0A,0B,0C,0D,20} and every
  // multi-byte UTF-8 code unit is ≥ 0x80, so a byte scan finds exactly
  // the regex split boundaries; `String.trim` strips chars ≤ U+0020 —
  // exactly the bytes ≤ 0x20, each a single-byte codepoint; and parquet
  // strings are valid UTF-8, so decode→re-encode is byte-identity and
  // hashing the original slice equals hashing the re-encoded token.
  // ---------------------------------------------------------------------

  @inline private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0d)

  /** Packed token offsets [s0, e0, s1, e1, ...] over `b`, equivalent to
    * `toString.trim.split("\\s+").filter(_.nonEmpty)` (Java-trim
    * semantics: both ends stripped of bytes ≤ 0x20).
    */
  def tokenOffsetsJvmTrim(b: Array[Byte]): Array[Int] = {
    var l = 0
    var r = b.length
    while (l < r && (b(l) & 0xff) <= 0x20) l += 1
    while (r > l && (b(r - 1) & 0xff) <= 0x20) r -= 1
    tokenRuns(b, l, r)
  }

  /** Same, with SQL-trim semantics (only 0x20 stripped at the ends) —
    * the byte equivalent of Spark's
    * `filter(split(trim(text), "\\s+"), t => t =!= "")`
    * ([[graft.engine.TextOps.tokens]]). The two differ only on control
    * bytes < 0x09 / 0x0E-0x1F at the string ENDS (token content for SQL
    * trim, stripped by Java trim).
    */
  def tokenOffsetsSqlTrim(b: Array[Byte]): Array[Int] = {
    var l = 0
    var r = b.length
    while (l < r && b(l) == 0x20) l += 1
    while (r > l && b(r - 1) == 0x20) r -= 1
    tokenRuns(b, l, r)
  }

  /** Maximal runs of non-`\s` bytes in [l, r) as packed offsets. */
  private def tokenRuns(b: Array[Byte], l: Int, r: Int): Array[Int] = {
    var n = 0
    var i = l
    var in = false
    while (i < r) { // count first: exact-size result array, no buffer growth
      val ws = isWs(b(i))
      if (!ws && !in) n += 1
      in = !ws
      i += 1
    }
    val out = new Array[Int](2 * n)
    var t = 0
    i = l
    in = false
    while (i < r) {
      val ws = isWs(b(i))
      if (!ws && !in) { out(2 * t) = i; t += 1 }
      if (ws && in) out(2 * t - 1) = i
      in = !ws
      i += 1
    }
    if (in) out(2 * t - 1) = r
    out
  }

  /** Byte length of the shingle joining tokens [i, i+w) with single
    * spaces (offsets packed as in [[tokenOffsetsJvmTrim]]).
    */
  @inline private def shingleLen(offs: Array[Int], i: Int, w: Int): Int = {
    var len = w - 1 // the join spaces
    var j = i
    while (j < i + w) { len += offs(2 * j + 1) - offs(2 * j); j += 1 }
    len
  }

  /** Write the shingle of tokens [i, i+w) into `buf`; returns its length. */
  private def writeShingle(b: Array[Byte], offs: Array[Int], i: Int, w: Int,
                           buf: Array[Byte]): Int = {
    var len = 0
    var j = i
    while (j < i + w) {
      if (j > i) { buf(len) = 0x20; len += 1 }
      val s = offs(2 * j)
      val e = offs(2 * j + 1)
      System.arraycopy(b, s, buf, len, e - s)
      len += e - s
      j += 1
    }
    len
  }

  /** Run `f(buf, len)` once per shingle (w-token windows; ≤ w tokens is
    * ONE shingle of all tokens — [[shingles]]' contract), with each
    * shingle's bytes composed exactly once into a reused buffer.
    */
  private[functions] def foreachShingle(b: Array[Byte], offs: Array[Int], w: Int)(
      f: (Array[Byte], Int) => Unit): Unit = {
    val n = offs.length / 2
    if (n <= w) {
      // ≤ w tokens (including zero) is ONE shingle: all tokens joined —
      // the empty doc's shingle is "" (shingles' mkString contract)
      if (n == 0) f(Array.emptyByteArray, 0)
      else {
        val buf = new Array[Byte](shingleLen(offs, 0, n))
        f(buf, writeShingle(b, offs, 0, n, buf))
      }
    } else {
      var maxLen = 0
      var i = 0
      while (i <= n - w) {
        val len = shingleLen(offs, i, w)
        if (len > maxLen) maxLen = len
        i += 1
      }
      val buf = new Array[Byte](maxLen)
      i = 0
      while (i <= n - w) {
        f(buf, writeShingle(b, offs, i, w, buf))
        i += 1
      }
    }
  }

  /** 64-bit SimHash over whitespace tokens: per bit, majority vote of
    * token-hash bits (Charikar's scheme). Near-duplicate texts differ in
    * few bits ⇒ hamming distance ≤ t via `bit_count(a ^ b)`.
    */
  def simhash64(text: UTF8String): Long = {
    val b = text.getBytes
    val offs = tokenOffsetsJvmTrim(b)
    val counts = new Array[Int](64)
    var i = 0
    while (i < offs.length) {
      val h = XXH64.hashUnsafeBytes(b,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + offs(i),
        offs(i + 1) - offs(i), Seed)
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

  /** k independent MinHash signatures over w-token shingles
    * (seed = signature index). Jaccard(a, b) ≈ fraction of equal
    * signature positions. Loop order is shingle-outer/seed-inner so each
    * shingle's bytes are composed once and hashed k times (the hash work
    * is pinned by the k-seed semantics; the old String-world inner loop
    * additionally re-encoded the shingle on every one of the k calls).
    */
  def minhash(text: UTF8String, k: Int, w: Int): ArrayData = {
    val b = text.getBytes
    val offs = tokenOffsetsJvmTrim(b)
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    foreachShingle(b, offs, w) { (buf, len) =>
      var s = 0
      while (s < k) {
        val h = XXH64.hashUnsafeBytes(buf,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, s.toLong)
        if (h < sig(s)) sig(s) = h
        s += 1
      }
    }
    new GenericArrayData(sig)
  }

  /** Winnowing-style bottom-k document fingerprint: the k smallest
    * distinct shingle hashes (reference's MD5 file fingerprint idea —
    * `scripts/esplosione_dati.py:50-103` — made content-local and
    * distributable).
    */
  def bottomK(text: UTF8String, k: Int, w: Int): ArrayData = {
    val b = text.getBytes
    val offs = tokenOffsetsJvmTrim(b)
    val n = offs.length / 2
    val hs = new Array[Long](if (n <= w) 1 else n - w + 1)
    var t = 0
    foreachShingle(b, offs, w) { (buf, len) =>
      hs(t) = XXH64.hashUnsafeBytes(buf,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, Seed)
      t += 1
    }
    java.util.Arrays.sort(hs)
    // sorted dedupe == .distinct.sorted on longs
    val out = new Array[Long](math.min(k, hs.length))
    var m = 0
    var i = 0
    while (i < hs.length && m < k) {
      if (m == 0 || hs(i) != out(m - 1)) { out(m) = hs(i); m += 1 }
      i += 1
    }
    new GenericArrayData(if (m == out.length) out else out.take(m))
  }

  /** One-pass exact equivalent of the CCNet-style normalization chain
    * `trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "),
    * " +", " "))` — one allocation and one byte scan instead of a lower
    * pass plus two global-regex passes (each of which allocates and
    * re-walks the string).
    *
    * Exactness for ANY input, not just ASCII: lowercasing goes through
    * `UTF8String.toLowerCase` — the same kernel Spark's `Lower`
    * expression calls, so case mapping is bit-identical — and the scan
    * is byte-level, which is exact because (a) every KEPT byte
    * ([a-z0-9]) is a single-byte UTF-8 codepoint, and (b) any dropped
    * codepoint — however many bytes — contributes only to a pending
    * space run, indistinguishable after collapse from the regex's
    * one-space-per-codepoint replacement followed by `" +"` collapse
    * and trim. (A literal space is also just a dropped byte here: the
    * regex KEEPS spaces then collapses runs — same pending-space
    * outcome.)
    */
  def normalizeAlnum(text: UTF8String): UTF8String = {
    val b = text.toLowerCase.getBytes
    val out = new Array[Byte](b.length)
    var n = 0
    var pendingSpace = false
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        if (pendingSpace && n > 0) { out(n) = ' '; n += 1 }
        out(n) = c
        n += 1
        pendingSpace = false
      } else pendingSpace = true
      i += 1
    }
    UTF8String.fromBytes(out, 0, n)
  }
}
