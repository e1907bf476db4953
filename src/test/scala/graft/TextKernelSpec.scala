package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.engine.TextOps
import graft.functions.{GraftFunctions, PortableHash, TextHash}
import graft.Reference.{shingles => refShingles, tokens => refTokens}

/** Round-21 kernel equivalence lock: the byte-level tokenizer/shingler
  * rewrites (TextHash.{minhash,simhash64,bottomK}, PortableHash.simhash64,
  * TextKernels.{shingles,shingleSet,fingerprint}) must be BIT-IDENTICAL
  * to the String-regex / Column-HOF pipelines they replaced — every
  * consumer is an oracle-hash-checked registry query, so any drift is a
  * correctness regression, not a perf trade. Each reference
  * implementation here is the pre-round-21 code, verbatim.
  */
class TextKernelSpec extends AnyFunSuite {

  private def u(s: String) = UTF8String.fromString(s)

  /** The pre-round-21 HOF shingle chain: w-token shingles as strings; a
    * doc with ≤ w tokens is one shingle.
    *
    * The `transform(array(toks), ts => …)` wrapper is a Column-level
    * LET BINDING, not decoration: higher-order functions run interpreted
    * (CodegenFallback), and an unbound `toks` expression referenced from
    * inside the per-index lambda — `slice(toks, i, w)` — is RE-EVALUATED
    * on every index, turning an O(T) shingling into O(T²) split+filter
    * work per document. Binding `toks` to a lambda variable evaluates it
    * once per row; the inner lambdas then read the bound array by
    * reference.
    */
  private def shingles(toks: Column, w: Int = 3): Column =
    flatten(transform(array(toks), ts =>
      when(size(ts) <= w, array(concat_ws(" ", ts)))
        .otherwise(transform(
          sequence(lit(1), size(ts) - (w - 1)),
          i => concat_ws(" ", slice(ts, i, lit(w)))))))

  /** The pre-round-21 Column chain for `TextOps.shingleSet`. */
  private def shingleSetBuiltin(text: Column, w: Int = 3): Column =
    array_distinct(shingles(TextOps.tokens(text), w))

  /** The pre-round-21 Column chain for `TextOps.fingerprint`. */
  private def fingerprintBuiltin(text: Column): Column =
    array_join(
      slice(array_sort(array_distinct(
        transform(shingles(TextOps.tokens(text)), TextOps.hash32(_)))), 1, 4), "-")

  /** Whitespace-and-token-boundary adversaries: control bytes at the ends
    * (where Java trim and SQL trim DISAGREE), interior control bytes,
    * non-ASCII (multi-byte UTF-8 — including U+00A0, which is NOT \s),
    * separator runs, and token counts straddling every shingle width.
    */
  private val adversarial = Seq(
    "", " ", "   ", "\t", "\t\n\u000b\f\r ", "a", " a ", "\ta\n",
    "a b", "a  b", "a b c", "a b c d", "a b c d e", "a b c d e f g",
    "\u0001a", "a\u0001", "\u0001a b\u0001", "a\u0001b c",
    "\u0000x y\u001f", "x \u0001 y", "a\u000bb",
    "héllo wörld", "你好 世界 一 二 三", "a b c d",
    "naïve café déjà-vu ünïcödé tökens",
    "tok " * 50 + "end", ("long" * 100) + " tail x y z",
    "  leading and   trailing   ", "\r\nmixed\r\nnewlines\r\n")

  private def corpusTexts: Seq[String] = {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.col
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text")).collect().map(_.getString(0)).toSeq
  }

  private def allTexts = adversarial ++ corpusTexts

  // ---- reference implementations: the pre-round-21 String pipelines ----

  private def refHashToken(s: String, seed: Long): Long = {
    val utf8 = UTF8String.fromString(s)
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(utf8.getBaseObject, utf8.getBaseOffset, utf8.numBytes, seed)
  }

  private def refMinhash(text: UTF8String, k: Int, w: Int): Array[Long] = {
    val sh = refShingles(refTokens(text), w)
    Array.tabulate(k)(i => sh.map(refHashToken(_, i.toLong)).min)
  }

  private def refSimhashXx(text: UTF8String): Long = {
    val counts = new Array[Int](64)
    refTokens(text).foreach { t =>
      val h = refHashToken(t, 42L)
      (0 until 64).foreach(b => if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1)
    }
    (0 until 64).foldLeft(0L)((acc, b) => if (counts(b) > 0) acc | (1L << b) else acc)
  }

  private def refSimhashPortable(text: UTF8String): Long = {
    val counts = new Array[Int](64)
    refTokens(text).foreach { t =>
      val h = PortableHash.md5Hash64(t)
      (0 until 64).foreach(b => if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1)
    }
    (0 until 64).foldLeft(0L)((acc, b) => if (counts(b) > 0) acc | (1L << b) else acc)
  }

  private def refBottomK(text: UTF8String, k: Int, w: Int): Array[Long] =
    refShingles(refTokens(text), w).map(refHashToken(_, 42L)).distinct.sorted.take(k)

  test("minhash byte kernel == String-pipeline reference, corpus + adversarial") {
    for (t <- allTexts; w <- Seq(2, 3)) {
      val got = TextHash.minhash(u(t), 32, w).toLongArray()
      val want = refMinhash(u(t), 32, w)
      assert(got.sameElements(want), s"minhash drift on ${t.take(40)} w=$w")
    }
  }

  test("simhash64 (xxh64) byte kernel == reference") {
    for (t <- allTexts)
      assert(TextHash.simhash64(u(t)) == refSimhashXx(u(t)), s"drift on ${t.take(40)}")
  }

  test("portable simhash64 byte kernel == reference") {
    for (t <- allTexts)
      assert(PortableHash.simhash64(u(t)) == refSimhashPortable(u(t)),
        s"drift on ${t.take(40)}")
  }

  test("bottomK byte kernel == reference") {
    for (t <- allTexts; k <- Seq(4, 8))
      assert(TextHash.bottomK(u(t), k, 3).toLongArray().sameElements(refBottomK(u(t), k, 3)),
        s"drift on ${t.take(40)} k=$k")
  }

  test("tokenOffsets: JVM-trim vs SQL-trim disagree exactly on end control bytes") {
    // the two tokenizers' one documented divergence, pinned so a future
    // "unification" cannot silently change either consumer family
    val b = "\u0001a b\u0001".getBytes("UTF-8")
    def toks(offs: Array[Int]) =
      offs.grouped(2).map(o => new String(b, o(0), o(1) - o(0), "UTF-8")).toSeq
    assert(toks(TextHash.tokenOffsetsJvmTrim(b)) == Seq("a", "b"))
    assert(toks(TextHash.tokenOffsetsSqlTrim(b)) == Seq("\u0001a", "b\u0001"))
  }

  test("shingles/shingleSet/fingerprint kernels == builtin Column chains, corpus + adversarial") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.engine.TextOps
    val df = (adversarial.toDF("text")
      .unionByName(spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("text"))))
    def chainShingles(w: Int) = shingles(TextOps.tokens(col("text")), w)
    val both = df.select(
      TextOps.shinglesText(col("text"), 2).as("k2"), chainShingles(2).as("c2"),
      TextOps.shinglesText(col("text"), 4).as("k4"), chainShingles(4).as("c4"),
      TextOps.shingleSet(col("text"), 3).as("ks3"),
      shingleSetBuiltin(col("text"), 3).as("cs3"),
      TextOps.shingleSet(col("text"), 5).as("ks5"),
      shingleSetBuiltin(col("text"), 5).as("cs5"),
      TextOps.fingerprint(col("text")).as("kf"),
      fingerprintBuiltin(col("text")).as("cf"))
    val bad = both.filter(
      not(col("k2") <=> col("c2")) || not(col("k4") <=> col("c4")) ||
        not(col("ks3") <=> col("cs3")) || not(col("ks5") <=> col("cs5")) ||
        not(col("kf") <=> col("cf"))).collect()
    assert(bad.isEmpty, s"kernel drift on: ${bad.take(3).mkString("; ")}")
  }

  test("chunkLedger kernel == explode/slice/md5 Column chain (o71), corpus + adversarial") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.engine.TextOps
    val df = (adversarial.toDF("text")
      .unionByName(spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("text"))))
    val ledgerType = "array<struct<n_chunk_tokens:bigint,chunk_md5:string>>"
    // the verbatim pre-round-21 o71 chain, gathered per row (the query
    // exploded it; zero-token docs were filtered before the sequence)
    def chain(w: Int, stride: Int) = {
      val t = TextOps.tokens(col("text"))
      when(size(t) > 0,
        transform(sequence(lit(1), size(t), lit(stride)), st =>
          struct(
            size(slice(t, st, lit(w))).cast("long").as("n_chunk_tokens"),
            md5(array_join(slice(t, st, lit(w)), " ")).as("chunk_md5"))))
        .otherwise(array().cast(ledgerType))
    }
    for ((w, stride) <- Seq((32, 24), (5, 3), (3, 7))) {
      val both = df.select(
        GraftFunctions.chunkLedger(col("text"), w, stride)
          .cast(ledgerType).as("k"),
        chain(w, stride).cast(ledgerType).as("c"),
        col("text"))
      val bad = both.filter(not(col("k") <=> col("c"))).collect()
      assert(bad.isEmpty,
        s"chunkLedger drift (w=$w stride=$stride) on: ${bad.take(3).mkString("; ")}")
    }
  }

  test("qualityStats kernel == regex/HOF Column chain (o25), corpus + adversarial") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.engine.TextOps
    val stop = Seq("the", "a", "of", "and", "to", "in")
    // extra adversaries for the regex-alternation equivalence: letter/
    // digit runs against non-ASCII neighbours, punct inside runs, all
    // six punct chars, \s-vs-U+00A0
    val extra = Seq("a1b2c3", "abc123!x?y.z", "π≈3.14159, e≈2.71828;",
      "déjà. vu, encore! fin? oui; non:", "a b .:,;!?", "...:::",
      "12ab34cd", ".,")
    val df = ((adversarial ++ extra).toDF("text")
      .unionByName(spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("text"))))
    val toks = TextOps.tokens(col("text"))
    val chain = struct(
      size(toks).cast("long").as("n_tokens"),
      size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
        .cast("long").as("n_bpeish"),
      size(regexp_extract_all(col("text"), lit("[.,!?;:]"), lit(0))).cast("long")
        .as("n_punct"),
      size(filter(toks, t => t.isin(stop: _*))).cast("long").as("n_stop"))
    val both = df.select(
      GraftFunctions.qualityStats(col("text")).as("k"),
      chain.as("c"), col("text"))
    val bad = both.filter(not(col("k") <=> col("c"))).collect()
    assert(bad.isEmpty, s"qualityStats drift on: ${bad.take(3).mkString("; ")}")
  }
}
