package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-contract registry for similarity search over `embeddings` and
  * the multimodal plumbing. o23 (exact kNN) is hash-checked against
  * DuckDB `list_cosine_similarity`; the ANN and multimodal entries are
  * approximate / stub-decoded, so they are registered WITHOUT oracle SQL
  * (driver records the weaker rows-only check) and verified structurally
  * in the test suite instead.
  */
object SimilarityQueries {
  import Tables._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact brute-force top-5 cosine for 10 query vectors: broadcast the
    // query side, one narrow pass over the corpus
    "o23_knn_cosine" -> ((s, d) =>
      Similarity.knnCosine(embeddings(s, d), nQueries = 10, k = 5)
        .orderBy(col("query_id"), col("cos").desc, col("neighbor_id"))),

    // embedding-cosine near-dup: exact pairwise cosine >= 0.4 over the
    // vec_id % 10 == 0 sample (bounded broadcast nested-loop)
    "o30_embedding_neardup" -> ((s, d) =>
      Similarity.cosineNearDup(embeddings(s, d), threshold = 0.4, sampleMod = 10)
        .orderBy("a", "b")),

    // IVF ANN scale path: label = coarse cluster, probe 2 nearest
    // centroids, exact cosine within probed clusters (hash-checked —
    // the pipeline is deterministic, see the x01 oracle below; recall
    // vs exact o23 additionally asserted in SimilaritySpec)
    // cos rounded to 6 decimals on BOTH engines (as o41 does): the hash
    // check must not depend on bit-for-bit libm agreement between
    // VectorOps.cosine and DuckDB list_cosine_similarity — ranking and
    // the top-k cut still use the unrounded value inside ivfTopK
    "x01_ann_ivf" -> ((s, d) =>
      Similarity.ivfTopK(embeddings(s, d), nQueries = 10, k = 5, nprobe = 2)
        .withColumn("cos", Analytics.roundDouble(col("cos"), 6))
        .orderBy(col("query_id"), col("cos").desc, col("neighbor_id"))),

    // the production-shape near-dup: FULL corpus, pairs only within each
    // coarse cluster (label-equi self-join — Σ|cluster|², never all-pairs;
    // o30 stays the sampled all-pairs audit of this). cos emitted rounded
    // to 6 decimals on both engines; the threshold filters the raw value.
    "o42_clustered_neardup" -> ((s, d) =>
      Similarity.clusteredNearDup(embeddings(s, d), threshold = 0.4)
        .withColumn("cos", Analytics.roundDouble(col("cos"), 6))
        .orderBy("a", "b")),

    // SRP/SimHash-for-vectors near-dup: deterministic ±1 hyperplane
    // signatures over QUANTIZED embeddings (integer-exact projections on
    // both engines), banded LSH candidates, pairs at signature hamming
    // ≤ 15 of 64 — pigeonhole-complete, so the output equals the
    // cluster-scoped SRP near-dup (round 15, replacing the flat-banded
    // o57_srp_lsh_neardup): at the corpus's wide radius (t=15/64) flat
    // banding passes ~1/16 of ALL pairs per band — O(n²) candidates,
    // 39 s at sf1, the registry's one scale-killer. The production
    // shape composes the SRP signatures with the o72 k-means blocks:
    // candidates only within (cluster, band, value) buckets, exact
    // hamming verify streaming out of the join. See
    // Similarity.srpClusteredNearDup for the recall contract.
    // total order via repartition(1)+sortWithinPartitions, NOT orderBy:
    // AQE broadcast-promotes the band join, fusing scan→explode→join→
    // filter→partial-distinct into ONE stage — a global orderBy's range
    // sampling then EXECUTES that stage a second time to pick split
    // points (measured at sf1: 83 s vs 41 s). The result is a bounded
    // pair ledger, so a single-partition sort of the OUTPUT is the
    // correct plan; the heavy pipeline below keeps its parallelism.
    "o57_srp_blocked_neardup" -> ((s, d) =>
      Similarity.srpClusteredNearDup(embeddings(s, d))
        .repartition(1).sortWithinPartitions("a", "b")),

    // SQ8 scalar-quantized ANN: int8 codes → quantized-cosine candidate
    // cut → exact rerank (hash-checked: codes and code-space scores are
    // integer-exact on both engines, so the candidate cut is
    // deterministic; the rerank reuses o23's bit-identical cosine).
    // Recall vs exact o23 additionally asserted in SimilaritySpec.
    "x07_sq8_ann" -> ((s, d) =>
      Similarity.sq8TopK(embeddings(s, d), nQueries = 10, k = 5, c = 25)
        .withColumn("cos", Analytics.roundDouble(col("cos"), 6))
        .orderBy(col("query_id"), col("cos").desc, col("neighbor_id"))),

    // integer-exact Lloyd's k-means (k=8, 3 update rounds) over quantized
    // shifted embeddings — the quantizer that BUILDS the coarse cluster
    // assignment x01/o42 consume. Hash-checked: every distance, argmin
    // tie-break, and floor-div centroid update is an exact integer
    // computation on both engines (see Similarity.kmeansAssign).
    "o72_kmeans" -> ((s, d) =>
      Similarity.kmeansAssign(embeddings(s, d), k = 8, iterations = 3)
        .orderBy("vec_id")),

    // PQ product-quantized ANN: per-sub-space codebooks trained on the
    // vec_id % 10 sample (integer-exact Lloyd's), corpus stored as m=8
    // codes, per-query ADC lookup-table scan, exact top-5 rerank of the
    // top-100 ADC candidates (c=100 measured recall@5 0.86 on the
    // pseudo-random corpus — PQ's adversarial case; c is the standard
    // recall dial and the rerank stays ≤ c rows per query). The measured
    // c→recall curve (SCALE.md, "PQ recall dial, measured") climbs
    // steadily without plateauing — 0.50/0.64/0.74/0.88 at c=50/100/200/
    // 400 on the 2k-vector sf0.1 corpus, 0.32/0.44/0.54/0.64 on 20k at
    // sf1 — so recall here is candidate-budget-bound (isotropic vectors:
    // no subspace correlation for an OPQ rotation to exploit), and the
    // production dial is c ∝ corpus, not a new family member. Hash-checked:
    // the whole candidate cut is integer-exact on both engines (see
    // Similarity.pqTopK); cos rounded to 6 decimals as x01/x07 do.
    "x10_pq_ann" -> ((s, d) =>
      Similarity.pqTopK(embeddings(s, d), nQueries = 10, k = 5, c = 100)
        .withColumn("cos", Analytics.roundDouble(col("cos"), 6))
        .orderBy(col("query_id"), col("cos").desc, col("neighbor_id"))),

    // multimodal frame sampling as PURE BUILTINS over the binary column
    // (the frame-sampling contract — every stride-th fixed-size chunk,
    // whose reference MultimodalSpec pins this query to — expressed as substring-on-binary inside a transform
    // lambda, so the whole frame ledger stays in whole-stage codegen;
    // no typed map, no shuffle until the final order). Each frame gets
    // a portable md5 over its UPPERCASE hex — the cross-engine hash
    // convention — so the oracle replays byte slicing as hex-string
    // slicing (DuckDB has no blob substring/md5). frameSize=32,
    // stride=4: frame k covers bytes [128k, 128k+32).
    "x08_frame_sample" -> ((s, d) => {
      val frameSize = 32
      val step = frameSize * 4
      // round 21 continuation: one codegen'd pass per payload. The old
      // transform-lambda chain ran INTERPRETED (ArrayTransform is
      // CodegenFallback) and allocated a binary slice + an uppercase-hex
      // string + a re-encoded byte array per frame; the kernel hexes
      // each frame into one reused buffer and md5s it in place
      // (value-equality locked in MediaKernelSpec). Output shape —
      // posexplode pos as frame_idx, long frame_len, lowercase md5 of
      // the UPPERCASE hex — is unchanged.
      Multimodal.asMediaTable(documents(s, d))
        .filter(col("n_bytes") > 0)
        .select(col("media_id"),
          posexplode(graft.functions.GraftFunctions.frameLedger(
            col("media"), frameSize, step)))
        .select(col("media_id"), col("pos").as("frame_idx"),
          col("col.frame_len").as("frame_len"),
          col("col.frame_md5").as("frame_md5"))
        .orderBy("media_id", "frame_idx")
    }),

    // multimodal resize-to-fixed-size as PURE BUILTINS (the x08 recipe
    // applied to the strided-downsample contract MultimodalSpec pins:
    // out[i] = bytes[(i·n) div 64]): payloads ≤ 64 bytes pass through,
    // longer ones are sampled at 64 exact integer stride positions; the
    // ledger row carries the md5 of the resized payload's uppercase hex
    // so the oracle replays the sampling as hex-pair selection.
    "x09_resize_ledger" -> ((s, d) => {
      val target = 64
      val n = col("n_bytes")
      // round 21 continuation: the 64-slot transform lambda (interpreted,
      // one substr+hex string per slot) is now one codegen'd kernel pass
      // that hexes the sampled bytes into a reused buffer and md5s it in
      // place — same double-arithmetic sample positions, same
      // uppercase-hex/lowercase-md5 convention (MediaKernelSpec locks
      // value-equality against the old chain).
      Multimodal.asMediaTable(documents(s, d))
        .filter(n > 0)
        .select(col("media_id"), col("n_bytes"),
          least(n, lit(target.toLong)).as("resized_len"),
          graft.functions.GraftFunctions.resizeMd5(col("media"), target)
            .as("resized_md5"))
        .orderBy("media_id")
    }),

    // multimodal: binary media column + typed metadata → partition-local
    // stub decode → per-source feature aggregate. Hash-checked: the stub
    // decode is deterministic byte-histogram moments, which the oracle
    // recomputes from hex(encode(text)) bytes in DuckDB. Per-doc mean/std
    // are bit-identical across engines (integer-valued double sums are
    // exact and order-free; both sides then run the same /, -, sqrt);
    // the cross-doc average goes through DECIMAL(18,6) so Spark's
    // partial-agg order can't shift the 4-decimal round.
    "x02_multimodal_features" -> ((s, d) => {
      val media = Multimodal.asMediaTable(documents(s, d))
      Multimodal.featurize(media)
        .join(media.select(col("media_id"), col("source")), "media_id")
        .select(col("source"), col("n_bytes"),
          element_at(col("features"), 1).as("byte_mean"),
          element_at(col("features"), 2).as("byte_std"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_media"),
          Analytics.roundDouble(sum(col("byte_mean").cast("decimal(18,6)")).cast("double")
            / count(lit(1)), 4).as("avg_byte_mean"),
          Analytics.roundDouble(sum(col("byte_std").cast("decimal(18,6)")).cast("double")
            / count(lit(1)), 4).as("avg_byte_std"))
        .orderBy("source")
    })
  )

  /** One synchronous PER-SUB-SPACE k-means round in long
    * (sub, code, i, cv) form, for the x10 PQ oracle: identical to
    * [[kmRound]] but the argmin partitions by (vec_id, sub) and the
    * floor-div update groups by (sub, code, i). Centroid rows carry only
    * their own sub-space's GLOBAL positions i, so joining on i alone
    * scopes each distance to the right sub-space. `qt` is the training
    * sample (vec_id % 10 = 0), matching Similarity.pqTopK.
    */
  private def pqRound(prev: String, n: Int): String =
    s"""pd$n AS (
       |  SELECT qt.vec_id, qt.sub, c.code,
       |         SUM((qt.val - c.cv) * (qt.val - c.cv)) AS d
       |  FROM qt JOIN $prev c ON qt.i = c.i GROUP BY 1, 2, 3),
       |pa$n AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT vec_id, sub, code,
       |           row_number() OVER (PARTITION BY vec_id, sub
       |                              ORDER BY d, code) AS rn
       |    FROM pd$n) WHERE rn = 1),
       |p$n AS (
       |  SELECT a.sub, a.code, qt.i,
       |         CAST(CAST(SUM(qt.val) AS BIGINT) // COUNT(*) AS DOUBLE) AS cv
       |  FROM pa$n a JOIN qt ON qt.vec_id = a.vec_id AND qt.sub = a.sub
       |  GROUP BY 1, 2, 3)""".stripMargin

  /** One synchronous k-means round in long (cluster, i, cv) form,
    * parameterized on the previous round's centroid CTE — unrolled like
    * the o70 PageRank oracle (recursive CTEs disallow aggregation in the
    * recursive term). `SUM // COUNT` floors, matching Spark `div` on the
    * shifted non-negative values.
    */
  private def kmRound(prev: String, n: Int): String =
    s"""d$n AS (
       |  SELECT qe.vec_id, c.cluster,
       |         SUM((qe.val - c.cv) * (qe.val - c.cv)) AS d
       |  FROM qe JOIN $prev c USING (i) GROUP BY 1, 2),
       |a$n AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT vec_id, cluster,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
       |    FROM d$n) WHERE rn = 1),
       |c$n AS (
       |  SELECT a.cluster, qe.i,
       |         CAST(CAST(SUM(qe.val) AS BIGINT) // COUNT(*) AS DOUBLE) AS cv
       |  FROM a$n a JOIN qe USING (vec_id) GROUP BY 1, 2)""".stripMargin

  /** The shifted quantization `q(vec_id, qv)` of o57, o72 and x10. */
  private val quantCte =
    """q AS (
      |  SELECT vec_id,
      |         [round(CAST(x AS DOUBLE) * 1000) + 1000 FOR x IN embedding] AS qv
      |  FROM embeddings)""".stripMargin

  /** o72's k-means replay up to its final distances, shared with o57:
    * quantization (q, qe), seeds c0, three [[kmRound]]s, and df = every
    * (vec_id, cluster) distance to the round-3 centroids.
    */
  private val kmeansCtes =
    s"""$quantCte,
       |qe AS (
       |  SELECT vec_id, unnest(generate_series(1, len(qv))) AS i,
       |         unnest(qv) AS val
       |  FROM q),
       |c0 AS (
       |  SELECT CAST(vec_id AS INTEGER) AS cluster, i, val AS cv
       |  FROM qe WHERE vec_id < 8),
       |${kmRound("c0", 1)},
       |${kmRound("c1", 2)},
       |${kmRound("c2", 3)},
       |df AS (
       |  SELECT qe.vec_id, c.cluster,
       |         SUM((qe.val - c.cv) * (qe.val - c.cv)) AS d
       |  FROM qe JOIN c3 c USING (i) GROUP BY 1, 2)""".stripMargin

  def oracles: Map[String, String] = Map(
    // replays pqTopK stage-for-stage: same shifted quantization, same
    // m=8 contiguous sub-spaces, codebooks trained on the vec_id % 10
    // sample seeded from its first 16 members (2 floor-div Lloyd rounds
    // per sub-space), full-corpus encoding by per-sub argmin, per-query
    // integer ADC via the (sub, code) lookup table, top-100 cut on
    // (adc, neighbor_id), exact-cosine rerank in o23's explicit
    // dot/sqrt(n2·n2) form, top-5, cos rounded to 6 decimals
    "x10_pq_ann" ->
      s"""WITH $quantCte,
         |qs AS (
         |  SELECT vec_id, i, val,
         |         CAST((i - 1) // (dims // 8) AS INTEGER) AS sub
         |  FROM (SELECT vec_id, unnest(generate_series(1, len(qv))) AS i,
         |               unnest(qv) AS val, len(qv) AS dims
         |        FROM q)),
         |qt AS (SELECT * FROM qs WHERE vec_id % 10 = 0),
         |p0 AS (
         |  SELECT sub, CAST(vec_id // 10 AS INTEGER) AS code, i, val AS cv
         |  FROM qt WHERE vec_id < 160),
         |${pqRound("p0", 1)},
         |${pqRound("p1", 2)},
         |ed AS (
         |  SELECT qs.vec_id, qs.sub, c.code,
         |         SUM((qs.val - c.cv) * (qs.val - c.cv)) AS d
         |  FROM qs JOIN p2 c ON qs.i = c.i GROUP BY 1, 2, 3),
         |enc AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT vec_id, sub, code,
         |           row_number() OVER (PARTITION BY vec_id, sub
         |                              ORDER BY d, code) AS rn
         |    FROM ed) WHERE rn = 1),
         |lut AS (
         |  SELECT qs.vec_id AS query_id, qs.sub, c.code,
         |         SUM((qs.val - c.cv) * (qs.val - c.cv)) AS d
         |  FROM qs JOIN p2 c ON qs.i = c.i
         |  WHERE qs.vec_id < 10 GROUP BY 1, 2, 3),
         |adc AS (
         |  SELECT l.query_id, e.vec_id AS neighbor_id,
         |         CAST(SUM(l.d) AS BIGINT) AS adc
         |  FROM enc e JOIN lut l ON e.sub = l.sub AND e.code = l.code
         |  WHERE e.vec_id != l.query_id GROUP BY 1, 2),
         |cand AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY adc, neighbor_id) AS rn
         |    FROM adc) WHERE rn <= 100),
         |ev AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |         list_dot_product(CAST(embedding AS DOUBLE[]),
         |                          CAST(embedding AS DOUBLE[])) AS n2
         |  FROM embeddings),
         |rer AS (
         |  SELECT c.query_id, c.neighbor_id,
         |         list_dot_product(qv.v, nv.v) / sqrt(qv.n2 * nv.n2) AS cos
         |  FROM cand c
         |  JOIN ev qv ON qv.vec_id = c.query_id
         |  JOIN ev nv ON nv.vec_id = c.neighbor_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY cos DESC, neighbor_id) AS rn
         |  FROM rer)
         |SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos
         |FROM ranked WHERE rn <= 5
         |ORDER BY query_id, ROUND(cos, 6) DESC, neighbor_id""".stripMargin,

    // replays kmeansAssign round-for-round: same shifted quantization,
    // same exact integer distances, same (d, cluster) argmin tie-break,
    // same floor-div centroid update, final assignment vs the round-3
    // centroids with the exact integer distance emitted
    "o72_kmeans" ->
      s"""WITH $kmeansCtes
         |SELECT vec_id, cluster, CAST(d AS BIGINT) AS dist2 FROM (
         |  SELECT vec_id, cluster, d,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
         |  FROM df) WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,

    // cluster-scoped near-dup: replays the o72 k-means assignment
    // round-for-round (same shifted quantization / exact integer
    // distances / argmin tie-break / floor-div update), the same
    // deterministic SRP signatures as before (integer-exact quantized
    // projections, UBIGINT bit packing), then all-pairs hamming ≤ 15
    // RESTRICTED to same-cluster pairs — exactly the banded join's
    // contract (within-block banding is pigeonhole-complete).
    // sf10-decidable shape (round 18, closing the registry's last
    // oracle_infeasible row): the pair join hash-joins sc×sc on the
    // CLUSTER key with vec_id< as a residual filter — the r17 form
    // joined sig×sig on the inequality alone (cluster equality arrived
    // only via two later asg joins), which DuckDB planned as a
    // nested-loop over all n² sig pairs; and sc is AS MATERIALIZED so
    // the ~60 s k-means+SRP replay runs ONCE, not once per side
    // (DuckDB inlines single-use CTEs — the o70 sf10 lesson). Same
    // rows, columns, ORDER BY — measured 200k vectors: 54 s replay +
    // 96 s within-cluster join (Σ|c|²/2 ≈ 2.5e9 hash-join pairs)
    // vs >900 s before. NOT replica-proof-eligible, documented in
    // check_oracle.py PROOF_SPEC: rotation replicas preserve norms but
    // NOT fixed-hyperplane SRP signatures, and the k-means seeds are
    // all rep-0, so clusters (and hence the pair scope) are global.
    "o57_srp_blocked_neardup" ->
      s"""WITH $kmeansCtes,
         |asg AS (
         |  SELECT vec_id, cluster FROM (
         |    SELECT vec_id, cluster,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) AS rn
         |    FROM df) WHERE rn = 1),
         |qs AS (
         |  SELECT vec_id, [round(CAST(x AS DOUBLE) * 1000) FOR x IN embedding] AS sv
         |  FROM embeddings),
         |pl AS (
         |  SELECT p.range AS p, j.range AS j,
         |         CASE WHEN CAST(('0x' || substr(md5(p.range || '_' || j.range), 25, 8)) AS BIGINT) % 2 = 0
         |              THEN 1.0 ELSE -1.0 END AS s
         |  FROM range(64) p, range(64) j),
         |proj AS (
         |  SELECT qs.vec_id, pl.p, SUM(pl.s * qs.sv[pl.j + 1]) AS dp
         |  FROM qs CROSS JOIN pl GROUP BY 1, 2),
         |sig AS (
         |  SELECT vec_id,
         |         bit_or(CASE WHEN dp > 0 THEN (1::UBIGINT << CAST(p AS INTEGER))
         |                     ELSE 0::UBIGINT END) AS sig
         |  FROM proj GROUP BY vec_id),
         |sc AS MATERIALIZED (
         |  SELECT s.vec_id, s.sig, a.cluster
         |  FROM sig s JOIN asg a USING (vec_id))
         |SELECT a.vec_id AS a, b.vec_id AS b, a.cluster,
         |       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |FROM sc a JOIN sc b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 15
         |ORDER BY a, b""".stripMargin,
    // explicit dot/sqrt(n2·n2) — see o23's note on list_cosine_similarity
    "o42_clustered_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
        |         list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[])) AS n2
        |  FROM embeddings)
        |SELECT a, b, ROUND(cos, 6) AS cos FROM (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |         list_dot_product(a.v, b.v) / sqrt(a.n2 * b.n2) AS cos
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
        |WHERE cos >= 0.4
        |ORDER BY a, b""".stripMargin,

    // replays the strided downsample as hex-pair selection: byte index
    // (i·n)//64 → hex offset ((i·n)//64)·2+1, same uppercase-hex md5
    "x09_resize_ledger" ->
      """WITH hx AS (
        |  SELECT doc_id AS media_id, hex(encode(text)) AS h,
        |         octet_length(encode(text)) AS n
        |  FROM documents WHERE octet_length(encode(text)) > 0)
        |SELECT media_id, CAST(n AS BIGINT) AS n_bytes,
        |       CAST(least(n, 64) AS BIGINT) AS resized_len,
        |       md5(CASE WHEN n <= 64 THEN h
        |                ELSE array_to_string(
        |                  [substr(h, ((i * n) // 64) * 2 + 1, 2) FOR i IN range(0, 64)], '')
        |           END) AS resized_md5
        |FROM hx ORDER BY media_id""".stripMargin,

    // replays the frame ledger in hex-string space: byte offset 128k →
    // hex offset 256k+1, 32 bytes → 64 hex chars, same uppercase-hex md5
    "x08_frame_sample" ->
      """WITH hx AS (
        |  SELECT doc_id AS media_id, hex(encode(text)) AS h,
        |         octet_length(encode(text)) AS n
        |  FROM documents),
        |fl AS (
        |  SELECT media_id,
        |         [substr(h, i * 256 + 1, 64) FOR i IN range(0, ((n - 1) // 128) + 1)] AS fs
        |  FROM hx WHERE n > 0),
        |fr AS (
        |  SELECT media_id, unnest(generate_series(1, len(fs))) - 1 AS frame_idx,
        |         unnest(fs) AS fh
        |  FROM fl)
        |SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |       CAST(length(fh) // 2 AS BIGINT) AS frame_len,
        |       md5(fh) AS frame_md5
        |FROM fr ORDER BY media_id, frame_idx""".stripMargin,

    // replays Multimodal.stubDecodeFeatures byte-for-byte: hex-decode the
    // UTF-8 payload, per-doc mean/std via the same sumSq/n - mean^2 form
    // (exact: integer-valued double sums are order-free below 2^53, and
    // /, -, sqrt are IEEE-identical across engines), then the decimal-sum
    // cross-doc average exactly as the Spark side
    "x02_multimodal_features" ->
      """WITH hx AS (
        |  SELECT doc_id, source, hex(encode(text)) AS h,
        |         octet_length(encode(text)) AS n
        |  FROM documents),
        |expl AS (
        |  SELECT doc_id, n, h,
        |         unnest(generate_series(1, n)) AS i FROM hx WHERE n > 0),
        |byteval AS (
        |  SELECT doc_id,
        |         (strpos('0123456789ABCDEF', substr(h, 2*i-1, 1)) - 1) * 16
        |         + (strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1) AS v
        |  FROM expl),
        |moments AS (
        |  SELECT doc_id,
        |         SUM(CAST(v AS DOUBLE)) / COUNT(*) AS mean,
        |         sqrt(greatest(0.0,
        |           SUM(CAST(v AS DOUBLE) * v) / COUNT(*)
        |           - (SUM(CAST(v AS DOUBLE)) / COUNT(*))
        |             * (SUM(CAST(v AS DOUBLE)) / COUNT(*)))) AS std
        |  FROM byteval GROUP BY doc_id),
        |perdoc AS (
        |  -- LEFT JOIN keeps zero-length payloads with mean/std 0,
        |  -- exactly stubDecodeFeatures' isEmpty branch
        |  SELECT hx.doc_id, hx.source,
        |         COALESCE(m.mean, 0.0) AS mean, COALESCE(m.std, 0.0) AS std
        |  FROM hx LEFT JOIN moments m USING (doc_id))
        |SELECT source, COUNT(*) AS n_media,
        |       ROUND(CAST(SUM(CAST(mean AS DECIMAL(18,6))) AS DOUBLE)
        |             / COUNT(*), 4) AS avg_byte_mean,
        |       ROUND(CAST(SUM(CAST(std AS DECIMAL(18,6))) AS DOUBLE)
        |             / COUNT(*), 4) AS avg_byte_std
        |FROM perdoc GROUP BY source ORDER BY source""".stripMargin,

    // replays the SQ8 pipeline byte-for-byte: per-dim max-abs scales,
    // integer codes via the same round(x / s * 127) chain, quantized
    // cosine as adot / sqrt(na2·nq2) on exact integer sums, top-c cut,
    // exact-cosine rerank — every candidate-cut comparison is on
    // integer-derived doubles, so the hash check cannot be flipped by
    // summation order on either engine
    "x07_sq8_ann" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dims AS (
        |  SELECT unnest(generate_series(1, len(v))) AS i, unnest(v) AS val FROM e),
        |sc AS (SELECT list(s ORDER BY i) AS sl
        |       FROM (SELECT i, MAX(abs(val)) AS s FROM dims GROUP BY i)),
        |coded AS (
        |  SELECT e.vec_id,
        |         [CASE WHEN sc.sl[i] = 0 THEN 0.0
        |               ELSE round(e.v[i] / sc.sl[i] * 127) END
        |          FOR i IN range(1, len(e.v) + 1)] AS code
        |  FROM e, sc),
        |cn AS (SELECT vec_id, code, list_dot_product(code, code) AS n2 FROM coded),
        |q AS (SELECT vec_id AS query_id, code AS qcode, n2 AS qn2
        |      FROM cn WHERE vec_id < 10),
        |qsc AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id,
        |         list_dot_product(c.code, q.qcode) / sqrt(c.n2 * q.qn2) AS qcos
        |  FROM q, cn c WHERE c.vec_id != q.query_id),
        |cand AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |      ORDER BY qcos DESC, neighbor_id) AS rn FROM qsc)
        |  WHERE rn <= 25),
        |rer AS (
        |  -- explicit dot/sqrt(n2·n2): see o23's list_cosine_similarity note
        |  SELECT c.query_id, c.neighbor_id,
        |         list_dot_product(qe.v, ne.v)
        |           / sqrt(list_dot_product(qe.v, qe.v)
        |                  * list_dot_product(ne.v, ne.v)) AS cos
        |  FROM cand c
        |  JOIN e qe ON qe.vec_id = c.query_id
        |  JOIN e ne ON ne.vec_id = c.neighbor_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) AS rn FROM rer)
        |SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos
        |FROM ranked WHERE rn <= 5
        |ORDER BY query_id, ROUND(cos, 6) DESC, neighbor_id""".stripMargin,

    // explicit dot/sqrt(n2·n2) — see o23's note on list_cosine_similarity
    "o30_embedding_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |         list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[])) AS n2
        |  FROM embeddings WHERE vec_id % 10 = 0)
        |SELECT a, b, cos FROM (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |         list_dot_product(a.v, b.v) / sqrt(a.n2 * b.n2) AS cos
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |WHERE cos >= 0.4
        |ORDER BY a, b""".stripMargin,

    // cosine spelled EXPLICITLY as dot / sqrt(n2a·n2b) — the exact
    // operand order of VectorOps.cosine — rather than DuckDB's
    // list_cosine_similarity, whose fused kernel drifts a last ulp from
    // the naive form on some pairs (and across DuckDB releases); the
    // explicit arithmetic is bit-stable on both engines by construction
    "o23_knn_cosine" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |         list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[])) AS n2
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id AS query_id, v AS qv, n2 AS qn2
        |  FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |         list_dot_product(q.qv, e.v) / sqrt(q.qn2 * e.n2) AS cos
        |  FROM q, e WHERE e.vec_id != q.query_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |                               ORDER BY cos DESC, neighbor_id) AS rn
        |  FROM scored)
        |SELECT query_id, neighbor_id, cos FROM ranked WHERE rn <= 5
        |ORDER BY query_id, cos DESC, neighbor_id""".stripMargin,

    // the full IVF pipeline is deterministic (label clusters, avg
    // centroids, total-order tie-breaks), so ANN gets a REAL hash-checked
    // oracle, not a rows-only pass: centroids via zipped unnest + ordered
    // list rebuild, probe ranking and within-cluster scoring exactly as
    // Similarity.ivfTopK. Emitted cos values come from member vectors
    // (never the centroid), so centroid last-ulp drift cannot leak into
    // the output — it could only flip a probe choice on an exact tie.
    "x01_ann_ivf" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |expl AS (
        |  SELECT label, unnest(generate_series(1, len(v))) AS i, unnest(v) AS val FROM e),
        |cent AS (
        |  SELECT label, list(cv ORDER BY i) AS centroid
        |  FROM (SELECT label, i, AVG(val) AS cv FROM expl GROUP BY label, i)
        |  GROUP BY label),
        |q AS (
        |  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |probed AS (
        |  -- explicit dot/sqrt(n2·n2): see o23's list_cosine_similarity note
        |  SELECT query_id, label FROM (
        |    SELECT q.query_id, c.label,
        |           row_number() OVER (PARTITION BY q.query_id
        |             ORDER BY list_dot_product(q.qv, c.centroid)
        |                        / sqrt(list_dot_product(q.qv, q.qv)
        |                               * list_dot_product(c.centroid, c.centroid))
        |                      DESC, c.label) AS rn
        |    FROM q, cent c)
        |  WHERE rn <= 2),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |         list_dot_product(q.qv, e.v)
        |           / sqrt(list_dot_product(q.qv, q.qv)
        |                  * list_dot_product(e.v, e.v)) AS cos
        |  FROM q JOIN probed p ON q.query_id = p.query_id
        |  JOIN e ON e.label = p.label
        |  WHERE e.vec_id != q.query_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |                               ORDER BY cos DESC, neighbor_id) AS rn
        |  FROM scored)
        |SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos
        |FROM ranked WHERE rn <= 5
        |ORDER BY query_id, ROUND(cos, 6) DESC, neighbor_id""".stripMargin
  )
}
