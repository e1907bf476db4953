package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import graft.engine.Similarity

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 3 well-separated clusters around orthogonal axes, tiny deterministic
    * jitter per member — IVF with nprobe=1 must equal exact kNN here.
    */
  private def clustered = {
    val rows = for {
      c <- 0 until 3
      i <- 0 until 8
    } yield {
      val v = Array.fill(6)(0.01f * (i + 1))
      v(c) = 1.0f
      ((c * 8 + i).toLong, v.toSeq, c)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("knnCosine: nearest neighbors of a cluster member are its cluster-mates") {
    val out = Similarity.knnCosine(clustered, nQueries = 3, k = 3).collect()
    assert(out.length == 9)
    val q0 = out.filter(_.getLong(0) == 0L).map(_.getLong(1)).toSet
    assert(q0.subsetOf((1L to 7L).toSet), s"neighbors of vec 0 must be cluster 0, got $q0")
    out.foreach(r => assert(r.getDouble(2) > 0.9))
  }

  test("knnCosine excludes self and returns exactly k per query") {
    val out = Similarity.knnCosine(clustered, nQueries = 3, k = 5).collect()
    assert(out.groupBy(_.getLong(0)).forall(_._2.length == 5))
    assert(!out.exists(r => r.getLong(0) == r.getLong(1)))
  }

  test("ivfTopK with nprobe=1 matches exact kNN on separated clusters") {
    val exact = Similarity.knnCosine(clustered, nQueries = 3, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(clustered, nQueries = 3, k = 3, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == exact, "IVF recall must be 1.0 on separated clusters")
  }

  test("clusteredNearDup = all-pairs near-dups restricted to same-label pairs") {
    val full = Similarity.cosineNearDup(clustered, threshold = 0.9, sampleMod = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Similarity.clusteredNearDup(clustered, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val label = (id: Long) => id / 8 // construction of `clustered`
    assert(blocked == full.filter { case (a, b) => label(a) == label(b) },
      "blocked join must find exactly the same-cluster near-dup pairs")
    assert(blocked.nonEmpty)
  }

  test("centroids: one per label, correct dimensionality") {
    val cs = Similarity.centroids(clustered).collect()
    assert(cs.length == 3)
    assert(cs.forall(_.getSeq[Double](1).length == 6))
  }

  /** Flat SRP banding: [[Similarity.srpBlockedNearDup]] with every vector
    * in one constant block, as (a, b, hamming).
    */
  private def srpNearDup(emb: DataFrame, planes: Int = 64, bands: Int = 16,
                         t: Int = 15): DataFrame =
    Similarity.srpBlockedNearDup(emb, emb.select(col("vec_id"), lit(0).as("cluster")),
        planes, bands, t)
      .select(col("a"), col("b"), col("hamming"))

  test("srpNearDup: identical and near-identical vectors found; banding is complete") {
    // 0/1 identical (hamming 0), 2 a tiny perturbation of 0 (small
    // hamming), 3 orthogonal-ish noise. The banded join's output must
    // be exactly the all-pairs hamming filter (pigeonhole completeness).
    val rows = Seq(
      (0L, Seq.fill(6)(0.5f), 0),
      (1L, Seq.fill(6)(0.5f), 0),
      (2L, Seq(0.5f, 0.5f, 0.5f, 0.5f, 0.5f, 0.52f), 0),
      (3L, Seq(1.0f, -1.0f, 0.9f, -0.7f, 0.2f, -0.4f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = srpNearDup(rows, planes = 64, bands = 16, t = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((0L, 1L)) == 0L, "identical vectors must pair at hamming 0")
    assert(out.contains((0L, 2L)) && out((0L, 2L)) == out((1L, 2L)),
      "perturbed vector pairs with both identical twins at the same hamming")
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "distant vector must not pair at t=15")
  }

  test("sq8TopK: high recall vs exact kNN on the real corpus; exact on separated clusters") {
    // separated clusters: the quantized candidate cut cannot confuse
    // near-orthogonal clusters, so SQ8 must equal exact kNN outright
    val exact3 = Similarity.knnCosine(clustered, nQueries = 3, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq3 = Similarity.sq8TopK(clustered, nQueries = 3, k = 3, c = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sq3 == exact3, "SQ8 must match exact kNN on separated clusters")

    // real corpus: recall@5 of the quantized pipeline vs brute force —
    // int8 quantization of 64-dim embeddings distorts cosine by <1%,
    // so the c=25 cut should rarely evict a true top-5 neighbor
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val exact = Similarity.knnCosine(emb, nQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = Similarity.sq8TopK(emb, nQueries = 10, k = 5, c = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect sq).size.toDouble / exact.size
    assert(recall >= 0.9, s"SQ8 recall@5 must be >= 0.9, got $recall")
  }

  test("pqTopK: reduces to exact kNN when c covers the corpus; useful recall at c=100") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val n = emb.count().toInt
    val exact = Similarity.knnCosine(emb, nQueries = 5, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // c >= corpus: every vector survives the ADC cut, so the exact
    // rerank IS brute force — output must equal knnCosine bit-for-bit
    val full = Similarity.pqTopK(emb, nQueries = 5, k = 5, c = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(full == exact, "pqTopK with c >= corpus must equal exact kNN")
    // production cut: m=8 sub-spaces at ksub=16 quantize coarsely (these
    // pseudo-random vectors are PQ's adversarial case), so c=100 is the
    // registry's recall dial — measured 0.86; this bound is a regression
    // floor, not a target
    val exact10 = Similarity.knnCosine(emb, nQueries = 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(emb, nQueries = 10, k = 5, c = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact10 intersect pq).size.toDouble / exact10.size
    assert(recall >= 0.7, s"PQ recall@5 must be >= 0.7, got $recall")
    // omitted c = the corpus-proportional default max(25, ceil(N/20)):
    // at this corpus size that is exactly 25 (ceil(N/20) < 25), so the
    // default path must reproduce an explicit c=25 run bit-for-bit —
    // pins that the auto dial is wired and deterministic
    assert(n <= 500, s"corpus grew to $n; pick a new pin for the default-c test")
    val auto = Similarity.pqTopK(emb, nQueries = 5, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pinned = Similarity.pqTopK(emb, nQueries = 5, k = 5, c = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(auto == pinned, "default c must equal max(25, ceil(N/20)) = 25 here")
  }

  /** Same 3 orthogonal clusters as `clustered`, but ids interleaved so
    * that `vec_id % 3` is the true cluster — the deterministic
    * `vec_id < k` seeding then starts with one seed per true cluster.
    */
  private def interleaved = {
    val rows = for {
      c <- 0 until 3
      i <- 0 until 8
    } yield {
      val v = Array.fill(6)(0.01f * (i + 1))
      v(c) = 1.0f
      ((i * 3 + c).toLong, v.toSeq, c)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("kmeansAssign recovers well-separated clusters from one seed each") {
    val out = Similarity.kmeansAssign(interleaved, k = 3, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.size == 24, "every vector is assigned exactly once")
    // all members of a true cluster land in one k-means cluster, and the
    // three true clusters land in three distinct ones
    val byTrue = out.groupBy(_._1 % 3).map { case (t, m) => t -> m.values.toSet }
    byTrue.foreach { case (t, ls) =>
      assert(ls.size == 1, s"true cluster $t split across k-means clusters $ls")
    }
    assert(byTrue.values.flatten.toSet.size == 3,
      "the three true clusters must map to three distinct k-means clusters")
  }

  test("kmeansAssign is invariant to input partitioning") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val a = Similarity.kmeansAssign(emb, k = 8, iterations = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val b = Similarity.kmeansAssign(emb.repartition(7), k = 8, iterations = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(a == b, "floor-div integer arithmetic must make the result partition-free")
    assert(a.size == 500)
  }

  test("srpNearDup on the real corpus equals brute-force all-pairs hamming") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val got = srpNearDup(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute force: reuse the pipeline's own signatures, then all-pairs
    // in memory (500 vecs) — proves the BANDING loses nothing, which is
    // the claim the oracle also checks cross-engine
    val planes = 64
    val sigs = srpNearDup(emb, planes = planes, bands = 64, t = 63)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expected = sigs.filter(_._2 <= 15)
    assert(got == expected,
      s"banded at t=15 must equal the t=63 run filtered to 15; " +
        s"missing=${(expected.keySet -- got.keySet).size} spurious=${(got.keySet -- expected.keySet).size}")
  }

  test("srpClusteredNearDup equals brute-force same-block hamming on the real corpus") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val got = Similarity.srpClusteredNearDup(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getInt(2), r.getLong(3)))
      .toMap
    // brute force from the pipeline's own building blocks: signatures +
    // k-means assignment, all same-cluster pairs at hamming <= 15 —
    // proves the within-block banding loses nothing (pigeonhole), which
    // is the same claim the DuckDB oracle checks cross-engine
    val sigs = Similarity.srpSignatures(emb)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val blocks = Similarity.kmeansAssign(emb, k = 8, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ids = sigs.keys.toSeq.sorted
    val expected = (for {
      i <- ids.indices.iterator
      j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      if blocks(a) == blocks(b)
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)).toLong
      if h <= 15
    } yield (a, b) -> (blocks(a), h)).toMap
    assert(got.nonEmpty, "cluster-scoped near-dup must find pairs on the corpus")
    assert(got == expected,
      s"within-block banding must equal brute-force same-block hamming; " +
        s"missing=${(expected.keySet -- got.keySet).size} spurious=${(got.keySet -- expected.keySet).size}")
  }
}
