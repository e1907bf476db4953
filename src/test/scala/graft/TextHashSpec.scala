package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{PortableHash, TextHash}

class TextHashSpec extends AnyFunSuite {

  private def u(s: String) = UTF8String.fromString(s)

  test("tokens: trims, splits on runs of whitespace, drops empties") {
    assert(Reference.tokens(u("  a  b\t c \n")).toSeq == Seq("a", "b", "c"))
    assert(Reference.tokens(u("single")).toSeq == Seq("single"))
    assert(Reference.tokens(u("   ")).toSeq == Seq.empty)
  }

  test("shingles: w-grams; short docs collapse to one shingle") {
    val toks = Array("a", "b", "c", "d")
    assert(Reference.shingles(toks, 3).toSeq == Seq("a b c", "b c d"))
    assert(Reference.shingles(Array("a", "b"), 3).toSeq == Seq("a b"))
    assert(Reference.shingles(Array("a", "b", "c"), 3).toSeq == Seq("a b c"))
  }

  test("simhash64 is deterministic and identical for identical text") {
    val a = TextHash.simhash64(u("the quick brown fox jumps over the lazy dog"))
    val b = TextHash.simhash64(u("the quick brown fox jumps over the lazy dog"))
    assert(a == b)
  }

  test("simhash64: near-dup texts are closer in hamming than unrelated ones") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tonight")
    val far = "completely different words about database engines and shuffles everywhere"
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    val hNear = ham(TextHash.simhash64(u(base)), TextHash.simhash64(u(near)))
    val hFar = ham(TextHash.simhash64(u(base)), TextHash.simhash64(u(far)))
    assert(hNear < hFar)
  }

  test("minhash: k signatures, equal for equal text, mostly equal for near-dups") {
    val base = "one two three four five six seven eight nine ten eleven twelve"
    val near = base + " thirteen"
    val sigA = TextHash.minhash(u(base), 32, 3).toLongArray()
    val sigB = TextHash.minhash(u(base), 32, 3).toLongArray()
    val sigC = TextHash.minhash(u(near), 32, 3).toLongArray()
    assert(sigA.length == 32)
    assert(sigA.sameElements(sigB))
    val agree = sigA.zip(sigC).count { case (x, y) => x == y }
    assert(agree > 16, s"near-dup signatures should mostly agree, got $agree/32")
  }

  test("bottomK fingerprint: sorted, distinct, at most k values") {
    val fp = TextHash.bottomK(u("a b c d e f g h i j k l m n o p"), 4, 3).toLongArray()
    assert(fp.length == 4)
    assert(fp.sorted.sameElements(fp))
    assert(fp.distinct.length == fp.length)
  }

  test("portable md5Hash64 matches SQL semantics: first 16 hex of md5 tail") {
    // md5('hello') = 5d41402abc4b2a76b9719d911017c592; chars 17..32 big-endian
    val expected = java.lang.Long.parseUnsignedLong("b9719d911017c592", 16)
    assert(PortableHash.md5Hash64("hello") == expected)
  }

  test("portable simhash64 deterministic and sensitive to token change") {
    val a = PortableHash.simhash64(u("alpha beta gamma delta epsilon zeta"))
    val b = PortableHash.simhash64(u("alpha beta gamma delta epsilon zeta"))
    val c = PortableHash.simhash64(u("alpha beta gamma delta epsilon eta"))
    assert(a == b)
    assert(a != c)
  }

  test("normalizeAlnum equals the builtin lower/regex/trim chain, corpus + adversarial") {
    // the o78 contract: the one-pass kernel must be byte-identical to
    // trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' '),
    // ' +', ' ')) — checked on the real corpus AND on literals chosen to
    // stress the byte-level scan (multibyte codepoints, case-fold edge
    // cases like Kelvin K and dotted İ, runs of separators, empties)
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tricky = Seq("", "   ", "a!!b", "  Hello,  WORLD!! 42 ", "!!!",
      "é Café 9", "a\tb\nc", "ÅK", "İstanbul", "ab  cd",
      "ﬀx", "mixed ÅNGSTRÖM text 123").toDF("text")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
    val both = corpus.unionByName(tricky)
      .select(
        graft.functions.GraftFunctions.normalizeAlnum(col("text")).as("kernel"),
        trim(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", " "), " +", " ")).as("chain"))
    val bad = both.filter(not(col("kernel") <=> col("chain"))).collect()
    assert(bad.isEmpty, s"kernel drift on: ${bad.take(3).mkString("; ")}")
  }
}
