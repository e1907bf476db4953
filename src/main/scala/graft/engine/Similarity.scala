package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorOps

/** Similarity search over an `embeddings(vec_id, embedding, label)` table.
  *
  *  - [[knnCosine]] — exact top-k: broadcast the (small) query set, one
  *    narrow pass over the corpus, per-query top-k via ranking. This is
  *    the 100 TB-correct EXACT shape: the corpus is never self-joined;
  *    cost is O(|corpus| · |queries|) with the queries in memory.
  *  - [[ivfTopK]] — IVF-style ANN: the `label` column is the coarse
  *    quantizer's cluster assignment; per-cluster centroids are computed
  *    distributively, each query probes its `nprobe` nearest centroids and
  *    scans only those clusters' members. At scale the cluster id becomes
  *    the partition key of the embedding table, so a probe is a partition-
  *    pruned scan. Approximate ⇒ registered as a rows-only query (recall
  *    is asserted against brute force in the test suite instead).
  */
object Similarity {

  /** Corpus with per-row precomputed double vector + its SQUARED norm:
    * the squared norm is folded ONCE, not once per pair — the pair-time
    * cosine is then `dot / sqrt(n2a * n2b)`, the exact operand order of
    * [[VectorOps.cosine]] and of the oracle's explicit
    * `list_dot_product(a,b) / sqrt(list_dot_product(a,a) *
    * list_dot_product(b,b))` (probed: squared norms multiply FIRST, then
    * one sqrt — an identical-vector pair is exactly 1.0 under this
    * order, 1+2⁻⁵² under sqrt(n2a)·sqrt(n2b)). The oracles spell the
    * formula out rather than calling DuckDB `list_cosine_similarity`,
    * whose fused kernel drifts a last ulp from the naive form on some
    * pairs (measured at sf0.01, duckdb 1.0.0) and may change across
    * releases. Also spreads a single-split corpus across the cluster
    * (array folds are interpreted per element — the one hot loop in this
    * module that parallelism must cover).
    */
  private def withNorms(emb: DataFrame): DataFrame =
    Spread(emb).withColumn("v", VectorOps.asDouble(col("embedding")))
      .withColumn("n2", VectorOps.normSq(col("v")))

  /** `dot(a, b) / sqrt(na2 · nb2)` over folded squared norms: the one
    * cosine form of this module, in the operand order [[withNorms]]
    * explains.
    */
  private def cosine(a: String, na2: String, b: String, nb2: String): Column =
    VectorOps.dot(col(a), col(b)) / sqrt(col(na2) * col(nb2))

  /** The query side of a [[withNorms]] frame: rows `vec_id < nQueries`
    * as (query_id, qv, qn2).
    */
  private def queriesOf(e: DataFrame, nQueries: Int): DataFrame =
    e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n2").as("qn2"))

  /** The first `k` rows per query_id under `order` (row_number, so the
    * trailing order key breaks ties).
    */
  private def topK(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(order: _*)))
      .filter(col("rn") <= k).drop("rn")

  /** Exact top-k cosine neighbors for query vectors `vec_id < nQueries`
    * (self excluded) — bit-identical to the oracle's explicit
    * dot/sqrt(n2a·n2b) over DOUBLE (see [[withNorms]]).
    */
  def knnCosine(emb: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = withNorms(emb)
    topK(e.crossJoin(broadcast(queriesOf(e, nQueries)))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine("qv", "qn2", "v", "n2").as("cos")),
      k, col("cos").desc, col("neighbor_id"))
  }

  /** Embedding-cosine near-duplicate pairs over a deterministic corpus
    * sample (`vec_id % sampleMod == 0`): exact pairwise cosine ≥
    * threshold. Exact all-pairs is inherently O(n²) — the sample bound
    * keeps it a broadcast nested-loop here; at 100 TB the exact variant
    * runs as a blocked self-join per coarse cluster (see [[ivfTopK]]'s
    * label pruning) and the sampled variant is the audit query.
    */
  def cosineNearDup(emb: DataFrame, threshold: Double, sampleMod: Int = 10): DataFrame = {
    val e = withNorms(emb.filter(pmod(col("vec_id"), lit(sampleMod)) === 0))
    val a = e.select(col("vec_id").as("a"), col("v").as("va"), col("n2").as("na2"))
    val b = e.select(col("vec_id").as("b"), col("v").as("vb"), col("n2").as("nb2"))
    a.join(broadcast(b), col("a") < col("b"))
      .select(col("a"), col("b"), cosine("va", "na2", "vb", "nb2").as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** The PRODUCTION near-dup shape [[cosineNearDup]] documents as its
    * scale path: exact cosine pairs within each coarse cluster (`label`)
    * only, as a label-equi self-join. Both sides shuffle (co-partition)
    * on label, so total work is Σ|cluster|² instead of |corpus|² and no
    * stage is all-pairs; the skew bound is the largest cluster, which the
    * coarse quantizer controls at ingest. Cross-cluster near-dups are
    * missed by construction — the same recall contract as IVF probing.
    */
  def clusteredNearDup(emb: DataFrame, threshold: Double): DataFrame = {
    val e = withNorms(emb)
    val a = e.select(col("label"), col("vec_id").as("a"),
      col("v").as("va"), col("n2").as("na2"))
    val b = e.select(col("label"), col("vec_id").as("b"),
      col("v").as("vb"), col("n2").as("nb2"))
    a.join(b, Seq("label"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), cosine("va", "na2", "vb", "nb2").as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Deterministic ±1 hyperplane row, shared bit-for-bit with the DuckDB
    * oracle: entry (p, j) is +1 iff the last-8-hex-char bucket of
    * md5("p_j") is even — the same portable-md5 convention every other
    * cross-engine hash in this repo uses ([[TextOps.hash32]]).
    */
  private def srpPlane(p: Int, dims: Int): Seq[Double] =
    (0 until dims).map { j =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"${p}_${j}".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.substring(24, 32), 16) % 2 == 0) 1.0 else -1.0
    }

  /** The SRP (signed-random-projection / SimHash-for-vectors) signature
    * kernel: one corpus pass → (vec_id, sig), where `sig` packs
    * `planes` projection-sign bits into one long (bit p = sign of the
    * projection on deterministic ±1 hyperplane p; for a pair at angle θ,
    * E[hamming] = planes·θ/π). All SRP consumers ([[srpBlockedNearDup]],
    * [[srpClusteredNearDup]]) share this; the 8-byte signature — not
    * the vector — is what rides any downstream shuffle.
    *
    * Cross-engine exactness is engineered, not hoped for: projections
    * are computed on QUANTIZED vectors (`round(x·1000)` — integer-valued
    * doubles), so every projection is an exact integer sum whose sign
    * cannot be flipped by summation order or a last-ulp libm
    * difference on either engine.
    */
  def srpSignatures(emb: DataFrame, planes: Int = 64,
                    quantScale: Int = 1000): DataFrame = {
    require(planes <= 64, "signature is packed into one long")
    val dims = emb.select(size(col("embedding"))).head().getInt(0)
    val qv = transform(VectorOps.asDouble(col("embedding")),
      x => round(x * quantScale))
    val sigBits = (0 until planes).map { p =>
      when(VectorOps.dot(col("qv"), typedlit(srpPlane(p, dims))) > 0,
        lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    Spread(emb).withColumn("qv", qv)
      .select(col("vec_id"), sigBits.as("sig"))
      .repartition(col("vec_id"))
  }

  /** Cluster-scoped SRP near-dup: [[srpSignatures]] banding composed
    * with the [[kmeansAssign]] coarse blocks — the production shape for
    * a WIDE angular radius, where plain banding cannot prune (a
    * qualifying pair at t=15/64 dirties up to 15 of 16 4-bit bands, so
    * completeness forces narrow bands that pass 1/16 of ALL pairs and
    * the band join degenerates to O(n²) candidates; measured 39 s at
    * sf1, the registry's one scale-killer through round 14).
    *
    * Semantics (the contract the oracle replays exactly): emit pairs
    * (a, b, cluster, hamming) with BOTH endpoints in the same k-means
    * block and signature hamming ≤ t. Within a block, banding is still
    * pigeonhole-complete (t < bands), so the output is exactly "all
    * same-block pairs at hamming ≤ t" — recall against the global pair
    * set is the block assignment's job, the o42/IVF trade stated there.
    *
    * Scale shape: candidates are generated per (cluster, band, value)
    * bucket, so join work is Σ m_c²/2^bandBits over block sizes m_c —
    * k grows with the corpus (k ≈ n/target_block) and per-block work
    * stays bounded; no stage touches the global pair set. Signatures
    * (8 bytes) and block ids (4 bytes) are the only per-vector payload
    * on the wide exchanges; vectors are read once each by the k-means
    * rounds and the signature pass and never shuffle.
    */
  def srpClusteredNearDup(emb: DataFrame, k: Int = 8, iterations: Int = 3,
                          planes: Int = 64, bands: Int = 16, t: Int = 15,
                          quantScale: Int = 1000): DataFrame =
    srpBlockedNearDup(emb,
      kmeansAssign(emb, k, iterations, quantScale)
        .select(col("vec_id"), col("cluster")),
      planes, bands, t, quantScale)

  /** The block-agnostic candidate core [[srpClusteredNearDup]] is built
    * on: SRP banding scoped to a caller-supplied `blocks(vec_id,
    * cluster)` assignment — any blocking discipline plugs in
    * ([[kmeansAssign]] blocks, one constant block for flat banding, or
    * an upstream ingest partitioner).
    * Semantics, per the srpClusteredNearDup contract: exactly "all
    * same-block pairs at signature hamming ≤ t" (within a block the
    * banding stays pigeonhole-complete for t < bands).
    */
  def srpBlockedNearDup(emb: DataFrame, blocks: DataFrame,
                        planes: Int = 64, bands: Int = 16, t: Int = 15,
                        quantScale: Int = 1000): DataFrame = {
    require(planes % bands == 0, "planes must divide into bands")
    require(t < bands, s"pigeonhole completeness needs t < bands, got t=$t bands=$bands")
    val bandBits = planes / bands
    // (vec_id, sig, cluster) MATERIALIZED once (eager localCheckpoint,
    // round 20): the A/B alias self-join below was planned as two FULL
    // duplicate subtrees — the sf0.001 formatted plan carried the
    // corpus scan + 64-plane signature pass AND the k-means final
    // assignment pass (its own corpus scan + broadcast argmin) twice,
    // once per side. The checkpoint is a barrier no rule can clone;
    // both join sides and the band explode now read one computed
    // 12-byte-per-vector block set (the Dedup.projected trade — residue
    // freed by the caller's terminal action + periodic GC).
    val sigBlocks = srpSignatures(emb, planes, quantScale)
      .join(blocks, "vec_id") // both sides pre-partitioned on vec_id
      .localCheckpoint(true)
    val banded = sigBlocks
      .withColumn("b", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("bv",
        expr(s"shiftright(sig, b * $bandBits) & ${(1L << bandBits) - 1}"))
    val A = banded.select(col("cluster"), col("b"), col("bv"),
      col("vec_id").as("a"), col("sig").as("sa"))
    val B = banded.select(col("cluster"), col("b"), col("bv"),
      col("vec_id").as("b2"), col("sig").as("sb"))
    // hamming is filtered STREAMING OUT OF THE BAND JOIN, before the
    // pair-dedup shuffle: a narrow band passes ~1/2^bandBits of all
    // pairs, but P[hamming ≤ 15 of 64] for a random pair is ~3e-5, so
    // the distinct() sees ~the true pair set, not the candidates
    // (measured on the flat join at sf1/20k vectors: the shuffle
    // disappears, 86 s before).
    A.join(B, Seq("cluster", "b", "bv"))
      .filter(col("a") < col("b2"))
      .select(col("a"), col("b2").as("b"), col("cluster"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= t)
      .distinct()
  }

  /** Integer-exact Lloyd's k-means over quantized embeddings, for
    * diversity-aware curation (cluster-then-sample) where no upstream
    * `label` assignment exists — the quantizer [[ivfTopK]] assumes is
    * built HERE. Every arithmetic step is engineered to be bit-identical
    * across engines (the o57/x07 discipline):
    *
    *  - vectors are quantized AND SHIFTED non-negative
    *    (`round(x·scale) + scale` ∈ [0, 2·scale]) so every sum below is
    *    an exact integer sum and truncating integer division equals
    *    floor division on both engines (Spark `div` truncates toward
    *    zero, DuckDB `//` floors — they only agree on non-negatives,
    *    which the shift guarantees; squared distances are shift-
    *    invariant so the clustering itself is unchanged);
    *  - init: centroids = the quantized vectors of `vec_id < k`
    *    (deterministic, no RNG — scripts can pass a hash-shuffled id);
    *  - assign: argmin of the exact integer ‖v−c‖², ties to the smaller
    *    cluster id; update: per-dimension `sum div count` (exact);
    *  - a cluster that loses all members drops out (k shrinks) rather
    *    than being re-seeded — re-seeding policies are RNG territory.
    *
    * Scale shape: centroids are a k×dims aggregate (tiny) broadcast back
    * each round — the corpus never self-joins and never moves; per
    * iteration the corpus is scanned once and shuffles only (cluster,
    * pos, partial-sum) triples, map-side combined. The driver holds no
    * vectors (centroid rebuild is the [[centroids]] explode/agg shape).
    * The returned assignment is lazy and reads the final ≤k-row
    * codebook's checkpoint, which stays until GC ([[lloydRounds]]).
    */
  def kmeansAssign(emb: DataFrame, k: Int = 8, iterations: Int = 3,
                   quantScale: Int = 1000): DataFrame = {
    val q = quantizedShifted(emb, quantScale)
    val cent = lloydCentroids(q, k, iterations)
    nearest(q.crossJoin(broadcast(cent)), Nil, "cluster")
      .select(col("vec_id"), col("m.cluster").as("cluster"),
        col("m.d").cast("long").as("dist2"))
  }

  /** ‖v−c‖² expanded as ‖v‖² − 2·v·c + ‖c‖², with both squared norms
    * folded ONCE (per corpus row / per centroid) instead of per PAIR:
    * the n·k hot loop then evaluates one codegen'd dot kernel per pair
    * where the naive zip_with(diff)·diff form allocated and walked an
    * interpreted 64-element diff array per pair (higher-order functions
    * are CodegenFallback). Every term is an exact integer-valued double
    * (quantized shifted inputs, |d| < 2^53), so the expanded sum is
    * BIT-IDENTICAL to the naive form — same argmin, same oracle hash.
    * Measured on the blocked near-dup probe (200k vectors; SCALE.md,
    * "The capacity dial, measured"): at k=80 the naive assignment
    * dominated at 39.0 s total; expanded, the same probe runs 13.3 s —
    * and scaled k=80 now beats rehearsal k=8 (17.6 s), which is the
    * capacity-dial contract.
    */
  private def dist2(vn2: Column, v: Column, cn2: Column, c: Column) =
    vn2 - lit(2.0) * VectorOps.dot(v, c) + cn2

  /** Each row's nearest centroid over a (vec_id, [keys], qv, qn2) ×
    * (`id`, cv, cn2) pairing: per (vec_id, keys), `m` is the min
    * (d = [[dist2]], id) struct — ties go to the smaller id — and the
    * `carry` columns, which depend on the row alone, ride along.
    */
  private def nearest(paired: DataFrame, keys: Seq[Column], id: String,
                      carry: String*): DataFrame =
    paired.select((col("vec_id") +: keys) ++ carry.map(col) ++ Seq(col(id),
        dist2(col("qn2"), col("qv"), col("cn2"), col("cv")).as("d")): _*)
      .groupBy(col("vec_id") +: keys: _*)
      .agg(min(struct(col("d"), col(id))).as("m"), carry.map(c => first(col(c)).as(c)): _*)

  /** Quantized SHIFTED corpus — the kmeansAssign exactness contract:
    * `round(x·scale) + scale` ∈ [0, 2·scale], so every downstream sum is
    * an exact integer sum and truncating division equals floor division
    * on both engines. Squared norm folded once per row.
    */
  private def quantizedShifted(emb: DataFrame, quantScale: Int): DataFrame = {
    val qv = transform(VectorOps.asDouble(col("embedding")),
      x => round(x * quantScale) + quantScale)
    Spread(emb).select(col("vec_id"), qv.as("qv"))
      .withColumn("qn2", VectorOps.normSq(col("qv")))
  }

  /** Lloyd update rounds over a [[quantizedShifted]] corpus: returns the
    * FINAL (cluster, cv, cn2) centroid frame, eagerly checkpointed
    * (≤ k rows; see [[lloydRounds]]). Used by [[kmeansAssign]].
    */
  private def lloydCentroids(q: DataFrame, k: Int, iterations: Int): DataFrame = {
    // ≥1 round required: with 0 rounds the returned init codebook would
    // still read the training cache released below
    require(iterations >= 1, "lloydCentroids needs at least one round")
    // materialize the quantized corpus ONCE for the training rounds: the
    // quantization rides a transform() lambda (higher-order functions are
    // CodegenFallback — interpreted per element), so a lazy `q` replays
    // scan + interpreted re-quantization EVERY round — iterations× the
    // corpus cost for identical bits. Released before returning; the
    // caller's final assignment pass pays exactly one fresh scan. At
    // 100 TB the quantizer trains on a bounded sample and this cached
    // frame IS the sample (the pqTopK contract).
    val qT = q.localCheckpoint(true)
    val init = qT.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cluster"),
        col("qv").as("cv"), col("qn2").as("cn2"))
    val cent = lloydRounds(qT, init, None, "cluster", iterations)
    // the final codebook is checkpointed: nothing downstream reads qT
    qT.unpersist()
    cent
  }

  /** `iterations` integer-exact Lloyd rounds from the `init` codebook:
    * each assigns every `train` row (vec_id, [part], qv, qn2) to its
    * [[nearest]] centroid, then rebuilds each centroid as its members'
    * per-position `sum div count`. `part` scopes the codebook (none:
    * [[lloydCentroids]]; `sub`: [[pqTopK]]'s sub-spaces) and `id` names
    * the centroid.
    *
    * Only the final ([part], id, cv, cn2) codebook is eagerly
    * checkpointed (round 20): each lazy round is a broadcast child of
    * the next, so that one action builds every round once over the
    * caller's cached `train`. The checkpoint lets the caller release
    * `train`; as the result's only lineage it stays until GC.
    */
  private def lloydRounds(train: DataFrame, init: DataFrame, part: Option[String],
                          id: String, iterations: Int): DataFrame = {
    val keys = part.toSeq.map(col)
    var cent = init
    for (i <- 1 to iterations) {
      val paired = part.fold(train.crossJoin(broadcast(cent)))(
        p => train.join(broadcast(cent), Seq(p)))
      val next = nearest(paired, keys, id, "qv")
        .select(keys ++ Seq(col(s"m.$id").as(id), posexplode(col("qv"))): _*)
        .groupBy(keys ++ Seq(col(id), col("pos")): _*)
        .agg(sum(col("col").cast("long")).as("s"), count(lit(1)).as("n"))
        .select(keys ++ Seq(col(id), col("pos"),
          expr("s div n").cast("double").as("v")): _*)
        .groupBy(keys :+ col(id): _*)
        .agg(collect_list(struct(col("pos"), col("v"))).as("pv"))
        .select(keys ++ Seq(col(id),
          transform(array_sort(col("pv")), x => x.getField("v")).as("cv")): _*)
        .withColumn("cn2", VectorOps.normSq(col("cv")))
      cent = if (i == iterations) next.localCheckpoint(true) else next
    }
    cent
  }

  /** Per-label centroids of the embedding column, computed by position
    * explode + grouped average (distributed; no vectors on the driver).
    */
  def centroids(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(col("embedding").cast("array<double>")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("col")).as("v"))
      .groupBy(col("label"))
      .agg(collect_list(struct(col("pos"), col("v"))).as("pv"))
      .select(col("label"),
        transform(array_sort(col("pv")), x => x.getField("v")).as("centroid"))

  /** Per-dimension symmetric quantization scales: scale_j = max |x_j|
    * over the corpus, as one ordered broadcastable array row (the
    * [[centroids]] rebuild pattern). Exact selections (max of abs), so
    * both engines derive bit-identical scales.
    */
  private def dimScales(emb: DataFrame): DataFrame =
    emb.select(posexplode(col("embedding").cast("array<double>")))
      .groupBy(col("pos")).agg(max(abs(col("col"))).as("s"))
      .agg(collect_list(struct(col("pos"), col("s"))).as("ps"))
      .select(transform(array_sort(col("ps")), x => x.getField("s")).as("scales"))

  /** SQ8 scalar-quantized ANN (the FAISS `SQ8` recipe, completing the
    * ANN family: [[knnCosine]] exact / [[ivfTopK]] partition-pruned /
    * this one compression-pruned): vectors are quantized to signed-8-bit
    * codes per dimension (`round(x / scale_j · 127)`), candidates are
    * ranked by quantized cosine over the CODES, and only the top-`c`
    * survivors per query are reranked with exact cosine on the original
    * vectors. At 100 TB the candidate scan reads 64 one-byte codes per
    * vector instead of 256+ float bytes — a 4-8× scan-payload cut — and
    * the exact rerank touches `c` vectors per query, not the corpus.
    *
    * Cross-engine exactness is engineered the o57 way: codes are
    * integer-valued (round of an IEEE-identical double chain), so the
    * quantized dot and both squared norms are EXACT integer sums —
    * order-free below 2^53 — and `qcos = adot / sqrt(na2·nq2)` is a
    * division and one sqrt of exact integers, bit-identical on both
    * engines. The candidate cut is therefore deterministic, and the
    * rerank reuses [[knnCosine]]'s bit-identical cosine form.
    */
  def sq8TopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5, c: Int = 25): DataFrame = {
    // (vec_id, code, n2) MATERIALIZED once (eager localCheckpoint,
    // round 20): the query side and the candidate-scan side each
    // planned their own scan + dimScales pass + interpreted zip_with
    // quantization (the sf0.001 formatted plan carried the subtree
    // twice — 12 parquet scans in all); the barrier computes the codes
    // once and both consumers read the cached ~72 B/vector blocks. The
    // residue is the plan's lineage, freed by the caller's terminal
    // action + periodic GC — the same bounded trade as pqTopK's qs.
    val coded = Spread(emb).crossJoin(broadcast(dimScales(emb)))
      .withColumn("code", zip_with(
        VectorOps.asDouble(col("embedding")), col("scales"),
        (x, s) => when(s === 0.0, lit(0.0)).otherwise(round(x / s * lit(127)))))
      .withColumn("n2", VectorOps.dot(col("code"), col("code")))
      .select(col("vec_id"), col("code"), col("n2"))
      .localCheckpoint(true)
    val q = coded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("code").as("qcode"), col("n2").as("qn2"))
    val cand = topK(coded.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine("code", "n2", "qcode", "qn2").as("qcos")),
      c, col("qcos").desc, col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(emb, cand, nQueries, k)
  }

  /** The exact tail of the compressed ANN scans ([[sq8TopK]],
    * [[pqTopK]]): each (query_id, neighbor_id) candidate is rescored
    * with [[knnCosine]]'s bit-identical cosine on the original vectors,
    * and the top `k` per query are kept.
    */
  private def exactRerank(emb: DataFrame, cand: DataFrame, nQueries: Int,
                          k: Int): DataFrame = {
    val e = withNorms(emb)
    topK(cand
      .join(e.select(col("vec_id").as("neighbor_id"), col("v"), col("n2")), "neighbor_id")
      .join(broadcast(queriesOf(e, nQueries)), "query_id")
      .select(col("query_id"), col("neighbor_id"), cosine("qv", "qn2", "v", "n2").as("cos")),
      k, col("cos").desc, col("neighbor_id"))
  }

  /** PQ (product-quantization) ANN — the compression dial AFTER
    * [[sq8TopK]]: vectors are split into `m` contiguous sub-vectors,
    * each sub-space gets its own `ksub`-entry codebook (integer-exact
    * Lloyd's, the [[kmeansAssign]] discipline), and every corpus vector
    * is stored as `m` small codes. Queries never touch
    * corpus vectors during the candidate scan: a per-query lookup table
    * (`m·ksub` exact integer sub-distances) turns each candidate's codes
    * into an asymmetric-distance (ADC) score with `m` table lookups —
    * the FAISS `PQ8` recipe. The top-`c` ADC survivors per query are
    * reranked with [[knnCosine]]'s bit-identical exact cosine.
    *
    * Scale shape (what each piece costs at 100 TB):
    *  - TRAINING runs on the deterministic `vec_id % sampleMod` sample
    *    only (the documented quantizer-trains-on-a-bounded-sample
    *    contract; the sample is a filter over the once-checkpointed
    *    sub-vector blocks), seeds from the sample's first `ksub` members,
    *    and each round is one broadcast join + map-side-combined
    *    floor-div update per sub-space — no corpus replay, no RNG;
    *  - ENCODING is one corpus pass against the broadcast codebooks
    *    (`m·ksub` sub-dots per row), emitted as (vec_id, sub, code) —
    *    at rest this is `m` bytes per vector (ksub ≤ 256) instead of
    *    `dims·4+` float bytes, a ~32× scan-payload cut at m=8/dims=64;
    *  - the ADC scan joins the code table to the ≤`nQueries·m·ksub`-row
    *    broadcast LUT and partial-aggregates the per-(query, vec) sum
    *    map-side — the corpus shuffles only (query, vec, partial-ADC)
    *    rows, never vectors.
    *
    * Cross-engine exactness is the o57/o72/x07 discipline end-to-end:
    * quantized SHIFTED integer sub-vectors, argmin ties to the smaller
    * code, `sum div count` centroid updates, and every ADC term an
    * exact integer-valued double (< 2^53), so the candidate cut is
    * bit-deterministic and the oracle replays it round-for-round.
    * A (sub, code) cell that loses all sample members drops out (the
    * kmeansAssign drop-out policy); encoding argmins over surviving
    * codes only, identically on both engines.
    *
    * EAGER-ACTION NOTE: ANY NEGATIVE `c` means "auto" and derives the
    * rerank budget from the corpus count — which runs one `emb.count()`
    * job PER CALL, the only eager action in this otherwise-lazy
    * builder (a count over parquet is metadata-cheap, but it is still
    * a job). Callers invoking pqTopK in a loop, or who already know
    * the corpus size, should pass an explicit `c > 0` (the registry's
    * x10 does, for cross-scale oracle determinism). `c == 0` is
    * rejected loudly: a zero rerank budget returns no neighbors and
    * can only be a bug at the call site.
    */
  def pqTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5, c: Int = -1,
             m: Int = 8, ksub: Int = 16, iterations: Int = 2,
             sampleMod: Int = 10, quantScale: Int = 1000): DataFrame = {
    // The rerank budget c is THE recall dial, and it must scale with the
    // corpus: SCALE.md ("PQ recall dial, measured", r17) records recall@5
    // at FIXED c falling as the corpus grows (c=100: 0.64 → 0.44 for
    // 2k → 20k vectors) with the curve climbing in c without plateau —
    // i.e. the dial is c ∝ N, not a constant. Default c < 0 therefore
    // derives c = max(25, ceil(N/20)) from the corpus count — c/N = 1/20
    // is the measured sf0.1 operating point (recall 0.64), held as the
    // corpus grows — so a 100 TB caller cannot silently inherit a
    // constant tuned at sf0.001. Pass c explicitly to pin the budget
    // (the registry's x10 does, for cross-scale oracle determinism);
    // explicit callers own the c/N ratio — keep it ≥ the default's 1/20
    // unless a measured curve for the target corpus says less suffices.
    require(c != 0, "pqTopK: c == 0 reranks nothing and returns no " +
      "neighbors — pass c > 0 to pin the budget or any c < 0 for the " +
      "corpus-proportional default")
    val cEff =
      if (c > 0) c
      else math.max(25L, (emb.count() + 19L) / 20L).min(Int.MaxValue).toInt
    // contract: dims % m == 0, checked loudly on one sampled row. The
    // sub-space slice below floor-divides, so a non-dividing m would
    // SILENTLY drop the trailing dims % m dimensions from every vector
    // (and the oracle's (i-1)//(dims//m) routing would file those
    // positions under a sub-space this scan never creates — a value AND
    // parity bug). One row, one tiny job, once per call.
    val dims = emb.select(size(col("embedding")).as("d")).head().getInt(0)
    require(dims % m == 0,
      s"pqTopK: embedding dims $dims not divisible by m=$m — the " +
        s"contiguous sub-vector split would silently ignore the trailing " +
        s"${dims % m} dimensions; choose m | dims (or pad the vectors)")
    val q = quantizedShifted(emb, quantScale)
    val dsub = size(col("qv")) / lit(m)
    // (vec_id, sub, qv, qn2): the m contiguous sub-vectors of each row,
    // MATERIALIZED once (eager localCheckpoint, round 20): the frame has
    // THREE full-scan consumers — the training sample, the corpus
    // encode, and the query LUT — and each was planned as its own
    // scan + interpreted quantize + sub-vector explode pass (the
    // transform/slice lambdas are CodegenFallback, so the replays were
    // the expensive kind). One pass computes the blocks; the sample
    // filter, encode and LUT all read them. Residue: the blocks are the
    // returned plan's lineage (enc/LUT derive from them), so they live
    // until the caller's terminal action + periodic GC — corpus-sized
    // like the encode's own shuffle, and strictly less work than the
    // two extra quantize passes they replace. At 100 TB the sample
    // TRAINS the codebooks (bounded), but encode is inherently one full
    // corpus pass — this checkpoint makes it exactly one.
    val qs = q.select(col("vec_id"), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          s => slice(col("qv"), s * dsub + 1, dsub))))
      .select(col("vec_id"), col("pos").as("sub"), col("col").as("qv"))
      .withColumn("qn2", VectorOps.normSq(col("qv")))
      .localCheckpoint(true)
    // bounded training sample: a narrow filter over the cached blocks
    // (no second materialization — the rounds re-read the same blocks)
    val qt = qs.filter(pmod(col("vec_id"), lit(sampleMod)) === 0)
    // deterministic seeds: the sample's first ksub members per sub-space
    val init = qt.filter(col("vec_id") < ksub.toLong * sampleMod)
      .select(col("sub"), expr(s"vec_id div $sampleMod").cast("int").as("code"),
        col("qv").as("cv"), col("qn2").as("cn2"))
    val cb = lloydRounds(qt, init, Some("sub"), "code", iterations)
    // encode the FULL corpus: per (row, sub) argmin over the broadcast
    // codebook — m bytes per vector from here on
    val enc = nearest(qs.join(broadcast(cb), Seq("sub")), Seq(col("sub")), "code")
      .select(col("vec_id"), col("sub"), col("m.code").as("code"))
    // per-query ADC lookup table: exact integer sub-distance to every
    // (sub, code) cell — ≤ nQueries·m·ksub rows, broadcast
    val lut = qs.filter(col("vec_id") < nQueries)
      .join(broadcast(cb), Seq("sub"))
      .select(col("vec_id").as("query_id"), col("sub"), col("code"),
        dist2(col("qn2"), col("qv"), col("cn2"), col("cv")).as("d"))
    val cand = topK(enc.join(broadcast(lut), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("d")).cast("long").as("adc")),
      cEff, col("adc"), col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(emb, cand, nQueries, k)
  }

  /** IVF ANN: probe the `nprobe` clusters whose centroids are most
    * cosine-similar to the query, then exact top-k within the probed
    * clusters only.
    */
  def ivfTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5, nprobe: Int = 2): DataFrame = {
    val e = withNorms(emb)
    val probed = topK(queriesOf(e, nQueries).crossJoin(broadcast(centroids(emb)))
      .select(col("query_id"), col("qv"), col("qn2"), col("label"),
        VectorOps.cosine(col("qv"), col("centroid")).as("ccos")),
      nprobe, col("ccos").desc, col("label"))
      .select(col("query_id"), col("qv"), col("qn2"), col("label"))
    topK(e.join(broadcast(probed), Seq("label")) // cluster-pruned scan
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine("qv", "qn2", "v", "n2").as("cos")),
      k, col("cos").desc, col("neighbor_id"))
  }
}
