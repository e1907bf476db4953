package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass byte-level kernels for the Column-chain text builders in
  * [[graft.engine.TextOps]] (round 21). The chains they replace —
  * `split` + higher-order `transform`/`slice`/`concat_ws` + `array_distinct`
  * (+ per-shingle builtin `md5`/`conv`/`substring` for the fingerprint) —
  * run the HOF lambdas INTERPRETED (CodegenFallback) and allocate a
  * String/array per step per shingle; these kernels do one byte scan per
  * row inside whole-stage codegen.
  *
  * Exactness is the whole contract (every consumer is oracle-hash-checked):
  * tokenization uses [[TextHash.tokenOffsetsSqlTrim]] — the byte-exact
  * equivalent of `filter(split(trim(text), "\\s+"), t => t =!= "")`, which
  * trims 0x20 ONLY (Spark/DuckDB `trim`), unlike the JVM-trim signature
  * kernels. A doc with ≤ w tokens is one shingle of all its tokens. Byte-identity to the old chains is unit-locked
  * in TextKernelSpec over the corpus AND adversarial control-byte /
  * non-ASCII / whitespace-edge inputs.
  */
object TextKernels {

  /** All w-token shingles of `text`, in position order — byte-equal to
    * the split + higher-order-function shingle chain (the reference in
    * TextKernelSpec).
    */
  def shingles(text: UTF8String, w: Int): ArrayData = {
    val b = text.getBytes
    val offs = TextHash.tokenOffsetsSqlTrim(b)
    val n = offs.length / 2
    val out = new Array[AnyRef](if (n <= w) 1 else n - w + 1)
    var t = 0
    TextHash.foreachShingle(b, offs, w) { (buf, len) =>
      out(t) = UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len))
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct w-token shingles in first-occurrence order — byte-equal to
    * `array_distinct` of that chain (= `TextOps.shingleSet`).
    */
  def shingleSet(text: UTF8String, w: Int): ArrayData = {
    val b = text.getBytes
    val offs = TextHash.tokenOffsetsSqlTrim(b)
    val seen = new java.util.LinkedHashSet[UTF8String]()
    TextHash.foreachShingle(b, offs, w) { (buf, len) =>
      val s = UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len))
      seen.add(s): Unit
    }
    new GenericArrayData(seen.toArray(new Array[AnyRef](seen.size)))
  }

  private val digestTL: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** md5 digest bytes 12..15 as an unsigned 32-bit value in a long —
    * the byte-level `TextOps.hash32` (`conv(substring(md5(c), 25, 8),
    * 16, 10).cast("long")`: hex chars 25..32 are digest bytes 12..15).
    */
  @inline private def md5Hash32(md: MessageDigest, d16: Array[Byte],
                                b: Array[Byte], len: Int): Long = {
    md.reset()
    md.update(b, 0, len)
    md.digest(d16, 0, 16): Unit
    ((d16(12) & 0xffL) << 24) | ((d16(13) & 0xffL) << 16) |
      ((d16(14) & 0xffL) << 8) | (d16(15) & 0xffL)
  }

  private val hexLowerDigits = "0123456789abcdef".getBytes

  /** 32 lowercase hex chars of `d16` into `out` (the `md5()` builtin's
    * output format).
    */
  @inline private def hexLower32(d16: Array[Byte], out: Array[Byte]): Unit = {
    var i = 0
    while (i < 16) {
      val v = d16(i) & 0xff
      out(2 * i) = hexLowerDigits(v >>> 4)
      out(2 * i + 1) = hexLowerDigits(v & 0xf)
      i += 1
    }
  }

  /** The o71 chunk ledger in ONE pass: for every stride-`stride` window
    * of up to `w` tokens, `(n_chunk_tokens, md5_hex)` of the
    * space-joined window — value-equal to the Column chain
    * `explode(sequence(1, size(t), stride))` +
    * `size(slice(t, start, w))` + `md5(array_join(slice(t, start, w), " "))`,
    * WITHOUT duplicating the full token array into every chunk row (the
    * Generate in that chain carries `t` per chunk: O(tokens²/stride)
    * bytes per doc). A doc with zero tokens returns an empty array (the
    * caller's `size(t) > 0` pre-explode filter drops it the same way).
    */
  def chunkLedger(text: UTF8String, w: Int, stride: Int): ArrayData = {
    val b = text.getBytes
    val offs = TextHash.tokenOffsetsSqlTrim(b)
    val n = offs.length / 2
    if (n == 0) return new GenericArrayData(Array.empty[AnyRef])
    val nChunks = (n - 1) / stride + 1
    val out = new Array[AnyRef](nChunks)
    var maxLen = 0
    var c = 0
    while (c < nChunks) {
      val s = c * stride
      val e = math.min(s + w, n)
      var len = e - s - 1 // join spaces
      var j = s
      while (j < e) { len += offs(2 * j + 1) - offs(2 * j); j += 1 }
      if (len > maxLen) maxLen = len
      c += 1
    }
    val buf = new Array[Byte](maxLen)
    val md = digestTL.get()
    val d16 = new Array[Byte](16)
    c = 0
    while (c < nChunks) {
      val s = c * stride
      val e = math.min(s + w, n)
      var len = 0
      var j = s
      while (j < e) {
        if (j > s) { buf(len) = 0x20; len += 1 }
        val ts = offs(2 * j)
        val te = offs(2 * j + 1)
        System.arraycopy(b, ts, buf, len, te - ts)
        len += te - ts
        j += 1
      }
      md.reset()
      md.update(buf, 0, len)
      md.digest(d16, 0, 16): Unit
      val hx = new Array[Byte](32)
      hexLower32(d16, hx)
      out(c) = new GenericInternalRow(Array[Any](
        (e - s).toLong, UTF8String.fromBytes(hx)))
      c += 1
    }
    new GenericArrayData(out)
  }

  @inline private def isAsciiLetter(b: Byte): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')
  @inline private def isAsciiDigit(b: Byte): Boolean = b >= '0' && b <= '9'
  @inline private def isRegexWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0d)

  /** The one stopword set of the o25/o28 counters; the oracle SQL's
    * `IN (...)` list is rendered from it too.
    */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")
  private val stopBytes: Array[Array[Byte]] =
    Stopwords.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray

  /** [[qualityStats]] over [[Stopwords]] — the kernel the queries call. */
  def qualityStats(text: UTF8String): InternalRow = qualityStats(text, stopBytes)

  /** The o25 per-doc quality counters in ONE byte pass:
    * `[n_tokens, n_bpeish, n_punct, n_stop]` — value-equal to
    * `size(tokens)`, `size(regexp_extract_all(text,
    * "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]", 0))`,
    * `size(regexp_extract_all(text, "[.,!?;:]", 0))` and
    * `size(filter(tokens, isin(stopwords)))`, where tokens is the SQL-trim
    * whitespace tokenizer ([[graft.engine.TextOps.tokens]]).
    *
    * Regex-equivalence argument for the BPE-ish alternation
    * `[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]` (leftmost match, greedy `+`):
    * at each position an ASCII letter starts a maximal letter run (one
    * match), an ASCII digit a maximal digit run, `\s` (the ASCII set
    * {09-0D, 20}) matches nothing and the scan advances, and ANY other
    * code point — including every non-ASCII one, since Java's `\s` and
    * the explicit classes are ASCII-only — is one single-code-point
    * match. Multi-byte UTF-8 sequences start with a lead byte ≥ 0xC0
    * whose length is read from the lead byte, so the byte scan counts
    * exactly one match per code point, as Java's code-point-level NFA
    * does (surrogate pairs are one code point to the regex and one
    * 4-byte sequence here). The punct class [.,!?;:] is pure ASCII and
    * those bytes never occur as UTF-8 continuation bytes, so the byte
    * count equals the regex count.
    */
  def qualityStats(text: UTF8String, stopwords: Array[Array[Byte]]): InternalRow = {
    val b = text.getBytes
    val offs = TextHash.tokenOffsetsSqlTrim(b)
    val nTokens = offs.length / 2
    var nStop = 0L
    var i = 0
    while (i < offs.length) {
      val s = offs(i)
      val len = offs(i + 1) - s
      var k = 0
      var hit = false
      while (k < stopwords.length && !hit) {
        val sw = stopwords(k)
        if (sw.length == len) {
          var j = 0
          while (j < len && b(s + j) == sw(j)) j += 1
          hit = j == len
        }
        k += 1
      }
      if (hit) nStop += 1
      i += 2
    }
    var nBpe = 0L
    var nPunct = 0L
    var p = 0
    while (p < b.length) {
      val c = b(p)
      if (isAsciiLetter(c)) {
        nBpe += 1
        p += 1
        while (p < b.length && isAsciiLetter(b(p))) p += 1
      } else if (isAsciiDigit(c)) {
        nBpe += 1
        p += 1
        while (p < b.length && isAsciiDigit(b(p))) p += 1
      } else if (isRegexWs(c)) {
        p += 1
      } else {
        nBpe += 1
        if (c == '.' || c == ',' || c == '!' || c == '?' || c == ';' || c == ':')
          nPunct += 1
        // one code point = one [^A-Za-z0-9\s] match; skip its UTF-8 length
        val u = c & 0xff
        p += (if (u < 0x80) 1 else if (u < 0xe0) 2 else if (u < 0xf0) 3 else 4)
      }
    }
    new GenericInternalRow(Array[Any](nTokens.toLong, nBpe, nPunct, nStop))
  }

  /** The o27 winnowing fingerprint — byte-equal to the
    * `TextOps.fingerprint` chain: bottom-4 distinct portable 32-bit
    * hashes of the 3-token shingles, ascending, dash-joined.
    */
  def fingerprint(text: UTF8String): UTF8String = {
    val b = text.getBytes
    val offs = TextHash.tokenOffsetsSqlTrim(b)
    val n = offs.length / 2
    val w = 3
    val hs = new Array[Long](if (n <= w) 1 else n - w + 1)
    val md = digestTL.get()
    val d16 = new Array[Byte](16)
    var t = 0
    TextHash.foreachShingle(b, offs, w) { (buf, len) =>
      hs(t) = md5Hash32(md, d16, buf, len)
      t += 1
    }
    java.util.Arrays.sort(hs)
    // ascending dedupe + take 4 == slice(array_sort(array_distinct(..)), 1, 4)
    val sb = new java.lang.StringBuilder(48)
    var m = 0
    var i = 0
    var prev = 0L
    while (i < hs.length && m < 4) {
      if (m == 0 || hs(i) != prev) {
        if (m > 0) sb.append('-'): Unit
        sb.append(hs(i)): Unit
        prev = hs(i)
        m += 1
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}
