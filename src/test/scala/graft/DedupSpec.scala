package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.engine.Dedup

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "spark shuffles partition data by key across the cluster " +
    "while catalyst prunes columns and pushes filters into the parquet scan layer"

  private def corpus = Seq(
    (0L, base),
    (1L, base.replace("layer", "stage")),       // near-dup of 0
    (2L, base),                                 // exact dup of 0
    (3L, "entirely different text about cooking pasta with tomatoes basil and olive oil in a large pot"),
    (4L, "yet another unrelated document discussing mountain hiking trails weather gear and maps")
  ).toDF("doc_id", "text")

  test("simhashNearDup finds exact + near dups, not unrelated docs") {
    val pairs = Dedup.simhashNearDup(corpus, t = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 2L)), "exact dup must be found (hamming 0)")
    assert(!pairs.exists(p => p._2 == 3L || p._2 == 4L || p._1 == 3L || p._1 == 4L),
      "unrelated docs must not pair")
  }

  test("minhashLshJaccard finds high-jaccard pairs with exact scores") {
    val out = Dedup.minhashLshJaccard(corpus, threshold = 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out.get((0L, 2L)).contains(1.0), "exact dup has jaccard 1.0")
    assert(out.contains((0L, 1L)), "near-dup above threshold found")
    assert(!out.keySet.exists(p => Set(p._1, p._2).intersect(Set(3L, 4L)).nonEmpty))
  }

  test("LSH candidates are complete vs the exact pair set on the shipped corpus") {
    // the o22 DuckDB oracle enumerates ALL pairs with jaccard >= 0.8;
    // LSH candidate generation is probabilistic, so completeness on the
    // corpus the driver actually checks must be ASSERTED, not assumed.
    // The exact side uses an inverted-index self-join on shingles —
    // complete by construction (jaccard >= 0.8 > 0 implies a shared
    // shingle) and still no all-pairs cartesian.
    import org.apache.spark.sql.functions._
    import graft.engine.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")
    val ssets = docs.select(col("doc_id"), TextOps.shingleSet(col("text"), 3).as("sset"))
    val inv = ssets.select(col("doc_id"), explode(col("sset")).as("sh"))
    val exact = inv.select(col("doc_id").as("a"), col("sh"))
      .join(inv.select(col("doc_id").as("b"), col("sh")), "sh")
      .filter(col("a") < col("b")).select("a", "b").distinct()
      .join(ssets.select(col("doc_id").as("a"), col("sset").as("sa")), "a")
      .join(ssets.select(col("doc_id").as("b"), col("sset").as("sb")), "b")
      .select(col("a"), col("b"), TextOps.jaccard(col("sa"), col("sb")).as("j"))
      .filter(col("j") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.minhashLshJaccard(docs, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty, "corpus must contain at least one qualifying pair")
    assert(lsh == exact,
      s"LSH missed ${(exact.keySet -- lsh.keySet).mkString(", ")}; " +
        s"spurious ${(lsh.keySet -- exact.keySet).mkString(", ")}")
  }

  test("ngramJaccardNearDup: positional-filter alpha boundary and length-filter boundary") {
    // Pins the two FP-sensitive cutoffs the PPJoin-style pruning added:
    //
    // (a) positional: docs 0/1 share I=6 of na=nb=8 shingles ⇒ J=0.6
    //     exactly, α = ⌈τ/(1+τ)·16⌉ = 6. Each doc's 2 unique shingles
    //     have df=1 < the shared ones' df=2, so the canonical (df, sid)
    //     order puts them at ranks 1-2 and the FIRST shared shingle at
    //     rank 3 = na−α+1 — the last admissible rank (at τ=0.6 the
    //     double 0.6/1.6·16 happens to land below 6, so this case pins
    //     the tight-rank geometry; the observable FP hazard is the
    //     τ=0.65 test below).
    //
    // (b) length: doc 3's shingle set (nb=6) is contained in doc 2's
    //     (na=10) ⇒ J = 6/10 = 0.6 exactly at the τ·max boundary, where
    //     0.6·10 = 6.000000000000001 in doubles — without the epsilon
    //     the length filter drops the pair inside the join condition.
    //     Its first shared rank in doc 2 is 5 = na−α+1 (4 unique
    //     shingles rank first), so the positional bound is tight here
    //     too.
    val docs = Seq(
      (0L, "x1 x2 c1 c2 c3 c4 c5 c6 c7"),
      (1L, "y1 y2 c1 c2 c3 c4 c5 c6 c7"),
      (2L, "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10 d11"),
      (3L, "d1 d2 d3 d4 d5 d6 d7")
    ).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardNearDup(docs, threshold = 0.6, w = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out.get((0L, 1L)).exists(j => math.abs(j - 0.6) < 1e-12),
      "pair at the exact positional alpha boundary must be found")
    assert(out.get((2L, 3L)).exists(j => math.abs(j - 0.6) < 1e-12),
      "contained pair at the exact length-filter boundary must be found")
    assert(out.size == 2, s"no spurious pairs expected, got $out")
  }

  test("ngramJaccardNearDup: alpha FP-ulp hazard at tau=0.65 (mutation-sensitive)") {
    // The one boundary where the α epsilon guard is OBSERVABLE on IEEE
    // doubles: 0.65/1.65 · 33 = 13.000000000000002, an ulp ABOVE the
    // exact α = 13. Without `− eps` inside the ceil, α becomes 14 and
    // the positional bound tightens one rank past correctness.
    // Construction: na=17 (4 unique df=1 shingles + 13 shared), nb=16
    // (3 unique + the same 13 shared) ⇒ J = 13/(33−13) = 13/20 = 0.65
    // exactly; the unique shingles outrank the shared ones (df 1 < 2),
    // so the first shared shingle sits at rank 5 = na−α+1 in doc 0 and
    // rank 4 = nb−α+1 in doc 1 — both exactly at the admissible bound.
    // Removing the epsilon loses this pair (verified by mutation).
    val docs = Seq(
      (0L, "u1 u2 u3 u4 c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13 c14"),
      (1L, "v1 v2 v3 c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13 c14")
    ).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardNearDup(docs, threshold = 0.65, w = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out.get((0L, 1L)).exists(j => math.abs(j - 0.65) < 1e-12),
      s"pair at the alpha FP-ulp boundary must be found, got $out")
  }

  test("ngramJaccardNearDup: exact-tau boundary pair found; identical texts collapse") {
    // J(0,1) = |{bc,cd,de}| / |{ab,bc,cd,de,ef}| = 3/5 = 0.6 EXACTLY.
    // Doc 0 has n=5 shingles, so its prefix length is 5-ceil(0.6*5)+1:
    // in doubles 0.6*5 = 3.0000000000000004, so without the epsilon
    // guard ceil gives 4 and the prefix shrinks to {ab,ef} — disjoint
    // from doc 1's prefix {bc,cd} — and this pair is silently LOST.
    // With the guard the prefix is {ab,ef,bc} and the pair is found.
    val docs = Seq(
      (0L, "a b c d e f"),
      (1L, "b c d e"),
      (2L, "a b c d e f"), // exact dup of 0 → collapse path
      (3L, "zz yy xx ww vv uu tt")
    ).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardNearDup(docs, threshold = 0.6, w = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out.get((0L, 2L)).contains(1.0), "identical pair via collapse path")
    assert(out.get((0L, 1L)).exists(j => math.abs(j - 0.6) < 1e-12),
      "pair at exactly tau must be found (FP ceil guard)")
    assert(out.get((1L, 2L)).exists(j => math.abs(j - 0.6) < 1e-12),
      "group expansion must carry the representative's jaccard")
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated doc must not pair")
  }

  test("ngramJaccardNearDup equals brute-force exact Jaccard on the real corpus") {
    // ngram prefix-filter Jaccard is an EXACT algorithm — unlike the LSH
    // completeness test above there is no probabilistic caveat: output
    // must equal the inverted-index brute force bit-for-bit (same
    // TextOps.jaccard expression on both sides ⇒ identical doubles).
    import org.apache.spark.sql.functions._
    import graft.engine.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")
    val ssets = docs.select(col("doc_id"), TextOps.shingleSet(col("text"), 2).as("sset"))
    val inv = ssets.select(col("doc_id"), explode(col("sset")).as("sh"))
    val exact = inv.select(col("doc_id").as("a"), col("sh"))
      .join(inv.select(col("doc_id").as("b"), col("sh")), "sh")
      .filter(col("a") < col("b")).select("a", "b").distinct()
      .join(ssets.select(col("doc_id").as("a"), col("sset").as("sa")), "a")
      .join(ssets.select(col("doc_id").as("b"), col("sset").as("sb")), "b")
      .select(col("a"), col("b"), TextOps.jaccard(col("sa"), col("sb")).as("j"))
      .filter(col("j") >= 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = Dedup.ngramJaccardNearDup(docs, threshold = 0.6, w = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty, "corpus must contain at least one qualifying pair")
    assert(got == exact,
      s"missed ${(exact.keySet -- got.keySet).mkString(", ")}; " +
        s"spurious ${(got.keySet -- exact.keySet).mkString(", ")}")
  }

  test("incrementalFingerprintDedup drops fingerprint-dups, keeps new docs") {
    val history = Seq(
      (1L, base),
      (3L, "entirely different text about cooking pasta with tomatoes basil and olive oil in a large pot")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (4L, base), // same text ⇒ same fingerprint ⇒ dropped
      (8L, "brand new document on sailing knots rigging and tide tables for coastal navigation")
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalFingerprintDedup(batch, history)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(8L), s"dup must drop, new doc must survive: $kept")
  }

  test("incrementalFingerprintDedup is exact for ANY Bloom outcome (vs plain anti-join)") {
    // The Bloom filter only routes rows between the shuffle-free path
    // and the verify path — the output contract is the plain
    // fingerprint anti-join. Run the operator twice: default sizing
    // (mostly-negative Bloom) and a deliberately SATURATED Bloom
    // (expectedItems=1, fpp≈0.5 ⇒ everything tests positive and the
    // whole batch goes through the verify). Both must equal the
    // reference anti-join row-for-row.
    import org.apache.spark.sql.functions._
    import graft.engine.TextOps
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val batch = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
    val history = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    def fp(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fingerprint"))
    val expected = fp(batch)
      .join(fp(history), Seq("fingerprint"), "left_anti")
      .collect().map(r => r.getLong(1) -> r.getString(0)).toMap
    for ((items, p) <- Seq((1L << 20, 0.01), (1L, 0.5))) {
      val got = Dedup.incrementalFingerprintDedup(batch, history, items, p)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == expected, s"items=$items fpp=$p: " +
        s"missed ${(expected.keySet -- got.keySet).mkString(",")}; " +
        s"spurious ${(got.keySet -- expected.keySet).mkString(",")}")
    }
    assert(expected.size < batch.count(),
      "split must actually drop at least one batch doc or the test is vacuous")
  }

  test("connectedComponents: chain graph converges to min label; singletons kept") {
    // a 5-node CHAIN (diameter 4) — plain one-hop propagation would
    // need 4 rounds; with path halving the fixpoint arrives faster and,
    // more importantly, the convergence check (not an iteration count)
    // decides when to stop. Doc 6 has no pairs and must survive as its
    // own component.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val out = Dedup.connectedComponents(pairs, docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert((1L to 5L).forall(i => out(i)._1 == 1L), s"chain collapses to 1: $out")
    assert(out(6L) == (6L, true), "singleton keeps itself")
    assert(out(1L)._2 && !(2L to 5L).exists(i => out(i)._2),
      "exactly the component min is kept")
  }

  test("connectedComponents: 200-node chain converges inside the round cap") {
    // a path graph is the worst topology for one-hop min-label
    // propagation: 199 rounds to reach the far end, far over the
    // 30-round cap — so mere convergence here (no IllegalStateException)
    // PROVES the path-halving rule is doing its geometric compression,
    // and the labels prove it converged to the true component min.
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val docs = (0L until 200L).toDF("doc_id")
    val out = Dedup.connectedComponents(pairs, docs).collect()
    assert(out.length == 200 && out.forall(_.getLong(1) == 0L),
      "every chain node must label to 0")
  }

  test("connectedComponents: two separate cliques stay separate; empty pairs all kept") {
    val pairs = Seq((10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("a", "b")
    val docs = Seq(10L, 11L, 12L, 20L, 21L, 30L).toDF("doc_id")
    val out = Dedup.connectedComponents(pairs, docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 30L -> 30L))
    val none = Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a", "b"), docs).collect()
    assert(none.forall(_.getBoolean(2)), "no pairs -> every doc kept")
  }

  test("minhashLshComponents = connected components of minhashLshJaccard's pairs") {
    // o54's rep-level label loop must equal the plain composition over
    // the member-level pair graph: on a corpus with an exact-duplicate
    // group, on the shipped corpus, and at threshold > 1 (no pairs)
    val shipped = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    Seq((corpus, 0.8), (shipped, 0.8), (corpus, 1.01)).foreach { case (docs, t) =>
      val got = rows(Dedup.minhashLshComponents(docs, t))
      val want = rows(Dedup.connectedComponents(
        Dedup.minhashLshJaccard(docs, t).select("a", "b"), docs))
      assert(got == want, s"threshold $t: missing ${want -- got}, spurious ${got -- want}")
      assert(got.exists(r => r._1 != r._2) == (t <= 1.0),
        s"threshold $t: a component must merge docs exactly when t <= 1")
    }
  }

  test("exactDedup groups by content hash and keeps the min id") {
    val groups = Dedup.exactDedup(corpus).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap // keep_id -> size
    assert(groups(0L) == 2, "docs 0 and 2 collapse into one group kept at id 0")
    assert(groups(1L) == 1 && groups(3L) == 1 && groups(4L) == 1)
  }

  test("o03_dup_probe lists each exact-duplicate group's md5, size and min id, in md5 order") {
    // groups of 2 and 3 whose smallest id is not their first row, plus singletons
    val docs = Seq(
      7L -> "alpha beta gamma", 2L -> "alpha beta gamma",
      9L -> "delta epsilon", 4L -> "delta epsilon", 11L -> "delta epsilon",
      1L -> "zeta", 3L -> "eta theta", 5L -> "alpha beta gamma ")
    val sfDir = TestSpark.tmpDir("o03-sf")
    docs.toDF("doc_id", "text").write.parquet(s"$sfDir/documents.parquet")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = docs.groupBy(_._2).values.filter(_.size > 1)
      .map(g => (md5hex(g.head._2), g.size.toLong, g.map(_._1).min)).toSeq.sortBy(_._1)
    assert(want.map(_._2).sorted == Seq(2L, 3L))
    val got = graft.SparkEntry.queries("o03_dup_probe")(spark, sfDir).collect()
      .map(r => (r.getAs[String]("text_md5"), r.getAs[Long]("cnt"), r.getAs[Long]("keep_id")))
      .toSeq
    assert(got == want)
  }

  test("normalizedDedup collapses case/punct/whitespace variants, keeps min id") {
    val docs = Seq(
      (1L, "Hello,   World!"),
      (2L, "hello world"),
      (3L, "HELLO-WORLD"),
      (4L, "hello worlds"), // distinct: different token after normalization
      (5L, "")
    ).toDF("doc_id", "text")
    val out = Dedup.normalizedDedup(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2), r.getLong(3))))
      .toMap
    val g = out(1L)._1
    assert(out(2L)._1 == g && out(3L)._1 == g, "1/2/3 share a normalization class")
    assert(out(1L)._2 && !out(2L)._2 && !out(3L)._2, "min doc_id 1 is the keeper")
    assert(out(1L)._3 == 3 && out(4L)._3 == 1 && out(5L)._3 == 1)
    assert(out(4L)._2 && out(5L)._2, "singletons keep themselves")
    assert(out(4L)._1 != g)
  }

  test("simhashNearDup refuses a threshold the banding cannot guarantee") {
    intercept[IllegalArgumentException] { Dedup.simhashNearDup(corpus, t = 4) }
  }

  // ---- adversarial scale robustness (round-12 verdict item #2) ----
  //
  // The web-scale killer input: a huge group of IDENTICAL boilerplate
  // docs. No band-key salting can split identical signatures, so the
  // pipelines collapse identical texts to one representative before
  // banding — the candidate/verify machinery must see ONE doc where the
  // corpus has ten thousand. (A mass of near-identical-but-distinct docs
  // at pairwise jaccard near the threshold is intrinsically candidate-
  // quadratic under (b=16, r=2) banding — the LSH curve itself flags
  // those pairs, and pruning them would change the operator's recall
  // contract; the defense there is the hot-bucket salting, exercised
  // below by forcing maxBucket=1 on the real corpus.)

  private def adversarialCorpus = {
    val boiler = "all rights reserved this page is provided as is without " +
      "warranty of any kind express or implied including merchantability"
    spark.range(0, 10000).selectExpr("id as doc_id", s"'$boiler' as text")
      .union(Seq(
        (20000L, base),
        (20001L, base.replace("layer", "stage")), // near-dup of 20000
        (30000L, "completely unrelated control document about deep sea " +
          "creatures bioluminescence and hydrothermal vents")
      ).toDF("doc_id", "text"))
  }

  test("adversarial: 10k identical docs never reach the candidate join") {
    val (cand, _, reps, _) = Dedup.minhashRepCandidates(adversarialCorpus, maxBucket = 10)
    assert(reps.count() == 4, "10k identical texts must collapse to one representative")
    // 4 reps -> at most C(4,2) = 6 candidate pairs, where the uncollapsed
    // join would have produced ~5e7 within one bucket
    assert(cand.count() <= 6L)
  }

  test("adversarial: 10k identical docs complete with exact quadratic output") {
    val docs = adversarialCorpus
    // C(10000, 2) identical pairs (jaccard exactly 1.0) + the planted
    // near-dup pair — emitted through the salted expand joins, never
    // through the verify
    val out = Dedup.minhashLshJaccard(docs, threshold = 0.8, maxBucket = 10)
    val inGroup = out.filter(col("a") < 10000 && col("b") < 10000)
    assert(inGroup.count() == 49995000L)
    val planted = out.filter(col("a") === 20000L && col("b") === 20001L).collect()
    assert(planted.length == 1 && planted(0).getDouble(2) >= 0.8)
    assert(out.filter(col("a") === 30000L || col("b") === 30000L).count() == 0)

    val sh = Dedup.simhashNearDup(docs, t = 3, maxBucket = 10)
    assert(sh.filter(col("a") < 10000 && col("b") < 10000).count() == 49995000L)
    assert(sh.filter((col("a") < 10000) =!= (col("b") < 10000)).count() == 0,
      "boilerplate group must not pair with distinct docs")
  }

  test("maximal salting (maxBucket=1) preserves simhash recall exactly") {
    // with maxBucket=1 EVERY bucket holding >=2 reps takes the salted
    // path, so the pigeonhole argument for the 4x12-bit complement
    // sub-bands carries the full recall load — the result must be
    // bit-identical to the unsalted pipeline on the real corpus
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")
    def collect(mb: Int) = Dedup.simhashNearDup(docs, t = 3, maxBucket = mb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val unsalted = collect(Int.MaxValue)
    assert(unsalted.nonEmpty, "corpus must contain at least one qualifying pair")
    assert(collect(1) == unsalted)
  }

  test("maximal salting (maxBucket=1) preserves minhash output on the real corpus") {
    // probabilistic rather than pigeonhole: a true pair in a hot bucket
    // is re-found via any OTHER shared band, and pairs at jaccard >= 0.8
    // share ~10 of 16 bands in expectation (miss ~ (1-j^2)^15 ~ 2e-7).
    // Deterministic data + hashes make this a fixed, re-runnable check.
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")
    def collect(mb: Int) = Dedup.minhashLshJaccard(docs, threshold = 0.8, maxBucket = mb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val unsalted = collect(Int.MaxValue)
    assert(unsalted.nonEmpty, "corpus must contain at least one qualifying pair")
    assert(collect(1) == unsalted)
  }
}
