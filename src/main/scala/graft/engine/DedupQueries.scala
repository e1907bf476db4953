package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-contract registry for the dedup suite (the brief's
  * training-data-pipeline operators): SimHash hamming-band near-dup,
  * MinHash-LSH + exact-Jaccard near-dup, and winnowing-style document
  * fingerprints. Every query is hash-checked against a DuckDB oracle that
  * recomputes the same portable hashes in pure SQL (see
  * [[graft.functions.PortableHash]] / [[TextOps]] for the parity
  * contracts).
  */
object DedupQueries {
  import Tables._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SimHash near-dup: codegen'd portable-SimHash kernel → 4×16-bit band
    // bucket join → bit_count(xor) ≤ 3. Complete recall by pigeonhole.
    "o21_simhash_neardup" -> ((s, d) =>
      Dedup.simhashNearDup(documents(s, d), t = 3).orderBy("a", "b")),

    // MinHash(32) → 16-band LSH candidates → EXACT 3-shingle Jaccard ≥ 0.8
    "o22_minhash_lsh_jaccard" -> ((s, d) =>
      Dedup.minhashLshJaccard(documents(s, d), threshold = 0.8).orderBy("a", "b")),

    // n-gram prefix-filter Jaccard: EXACT near-dup audit (no probabilistic
    // stage at all) — df-ordered prefix filter + length filter prune the
    // candidate space, exact set Jaccard verifies. w=3: prefix filtering
    // is only as selective as the shingle vocabulary is wide, and 2-grams
    // over a small-vocabulary corpus collapse it (measured on the sf0.1
    // synthetic corpus: 931 distinct 2-grams → 8.5M prefix-join rows and
    // 4.1M candidate pairs from 5k docs, vs 27k distinct 3-grams → 204k
    // join rows / 193k pairs — a 40× cut for the same τ). A distribution
    // shift in the corpus must degrade the CANDIDATE COUNT gracefully,
    // not quadratically; 3-grams are the smallest shingle with that
    // property here. The ⌈τ·n⌉ FP-boundary hazards stay pinned at the
    // kernel level in DedupSpec (w=2 micro-corpora built to land on the
    // ulp edges). The exact audit counterpart to o22's LSH estimate.
    "o53_ngram_prefix_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardNearDup(documents(s, d), threshold = 0.6, w = 3)
        .orderBy("a", "b")),

    // near-dup CLUSTERS with a keep-one policy: connected components
    // (min-label propagation + path halving, O(log n) rounds) over the
    // o22 pair graph. Every doc appears; comp = min reachable doc_id;
    // is_kept marks the canonical survivor a pipeline retains. The label
    // loop runs on the verified REP pairs only and members attach with
    // one post-loop join (same components — see minhashLshComponents).
    "o54_dedup_components" -> ((s, d) =>
      Dedup.minhashLshComponents(documents(s, d), threshold = 0.8)
        .orderBy("doc_id")),

    // normalization-equivalence dedup over the corpus PLUS a derived
    // adversarial copy of itself (text uppercased, space-padded,
    // punctuation-suffixed): every original must collapse with its
    // disguised twin — the copies exercise the collapse path for real
    // on a corpus whose raw texts happen to be all-distinct. Twin ids
    // are offset by max(doc_id)+1, DERIVED from the data (a fixed
    // constant would silently collide with real ids once the corpus
    // outgrows it); the oracle computes the same scalar in SQL. The
    // 1-row max() action is bounded metadata, same class as the
    // percentile offsets.
    "o78_normalized_dedup" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("text"))
      val off = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
      val disguised = docs.select(
        (col("doc_id") + off).as("doc_id"),
        concat(lit("  "), upper(col("text")), lit("!!")).as("text"))
      Dedup.normalizedDedup(docs.unionByName(disguised)).orderBy("doc_id")
    }),

    // bottom-4 portable shingle-hash fingerprint per doc (winnowing-style
    // content fingerprint — reference `scripts/esplosione_dati.py:50-103`
    // made content-local and distributable). Spread, not repartition: the
    // hash pass must fan out when the corpus arrives as one split, but an
    // already-parallel scan (any real deployment) must not pay a full
    // shuffle for a map-only stage.
    "o27_doc_fingerprint" -> ((s, d) =>
      Spread(documents(s, d)).select(
        col("doc_id"),
        TextOps.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")),

    // incremental ingest dedup: batch (doc_id ≡ 0 mod 4) vs history (the
    // rest), fingerprint-keyed, Bloom-prefiltered so history never
    // re-shuffles per batch; output = the kept batch docs
    "o59_incremental_dedup" -> ((s, d) => {
      val docs = documents(s, d)
      Dedup.incrementalFingerprintDedup(
        docs.filter(pmod(col("doc_id"), lit(4)) === 0),
        docs.filter(pmod(col("doc_id"), lit(4)) =!= 0))
        .orderBy("doc_id")
    })
  )

  // Shared oracle CTEs: tokenization and 3-shingling in DuckDB SQL with
  // exact parity to TextOps (see its per-function oracle notes).
  private val toksCte =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS t
      |  FROM documents)""".stripMargin

  private val shinglesCte =
    s"""$toksCte,
       |sh AS (
       |  SELECT doc_id, CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
       |         ELSE [array_to_string(list_slice(t, i, i+2), ' ') FOR i IN range(1, len(t)-1)]
       |         END AS s
       |  FROM toks)""".stripMargin

  // distinct shingle sets, and the exact Jaccard of an `ss a` × `ss b`
  // pair; `indent` aligns the continuation line of the ratio
  private val setsCte =
    s"""$shinglesCte,
       |ss AS (SELECT doc_id, list_distinct(s) AS s FROM sh)""".stripMargin

  private def jaccardSql(indent: String): String =
    "CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /\n" + indent +
      "CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE)"

  /** Every pair with exact shingle-set Jaccard ≥ `t`: o22 and o53 state
    * the same contract at different thresholds.
    */
  private def jaccardPairs(t: String): String =
    s"""WITH $setsCte
       |SELECT a.doc_id AS a, b.doc_id AS b,
       |       ${jaccardSql("       ")} AS jaccard
       |FROM ss a JOIN ss b ON a.doc_id < b.doc_id
       |WHERE ${jaccardSql("      ")} >= $t
       |ORDER BY a, b""".stripMargin

  def oracles: Map[String, String] = Map(
    // same normalization chain with DuckDB's explicit 'g' flag (Spark
    // regexp_replace is global by default; DuckDB's is first-match)
    "o78_normalized_dedup" ->
      """WITH off AS (SELECT MAX(doc_id) + 1 AS o FROM documents),
        |aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + off.o, '  ' || upper(text) || '!!' FROM documents, off),
        |n AS (
        |  SELECT doc_id,
        |         md5(trim(regexp_replace(regexp_replace(lower(text),
        |             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_md5
        |  FROM aug)
        |SELECT doc_id, norm_md5,
        |       doc_id = MIN(doc_id) OVER (PARTITION BY norm_md5) AS is_kept,
        |       COUNT(*) OVER (PARTITION BY norm_md5) AS n_dups
        |FROM n ORDER BY doc_id""".stripMargin,

    // exact pairs (the o22 oracle's body) → undirected edges → label of
    // a node = min id over its transitive closure, via a recursive CTE
    // (WITH RECURSIVE reach enumerates (node, reachable-id) pairs; UNION
    // dedup terminates it); singleton docs label themselves.
    "o54_dedup_components" ->
      s"""WITH RECURSIVE $setsCte,
         |pairs AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM ss a JOIN ss b ON a.doc_id < b.doc_id
         |  WHERE ${jaccardSql("        ")} >= 0.8),
         |edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
         |reach(id, comp) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.comp FROM edges e JOIN reach r ON r.id = e.dst),
         |lab AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)
         |SELECT d.doc_id AS doc_id, COALESCE(l.comp, d.doc_id) AS comp,
         |       d.doc_id = COALESCE(l.comp, d.doc_id) AS is_kept
         |FROM documents d LEFT JOIN lab l ON l.id = d.doc_id
         |ORDER BY doc_id""".stripMargin,
    "o53_ngram_prefix_jaccard" -> jaccardPairs("0.6"),
    "o21_simhash_neardup" ->
      s"""WITH $toksCte,
         |tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
         |th AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 17, 16)) AS UBIGINT) AS h FROM tok),
         |bitv AS (
         |  SELECT doc_id, b, SUM(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
         |  FROM th, (SELECT unnest(range(64)) AS b) bs GROUP BY doc_id, b),
         |simh AS (
         |  SELECT doc_id,
         |         CAST(SUM(CASE WHEN v > 0 THEN (1::UBIGINT << b) ELSE 0::UBIGINT END) AS UBIGINT) AS s
         |  FROM bitv GROUP BY doc_id)
         |SELECT a.doc_id AS a, b.doc_id AS b,
         |       CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
         |FROM simh a JOIN simh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.s, b.s)) <= 3
         |ORDER BY a, b""".stripMargin,

    "o22_minhash_lsh_jaccard" -> jaccardPairs("0.8"),

    "o27_doc_fingerprint" ->
      s"""WITH $shinglesCte
         |SELECT doc_id,
         |       array_to_string(list_slice(list_sort(list_distinct(
         |         [CAST(('0x' || substr(md5(x), 25, 8)) AS BIGINT) FOR x IN s])), 1, 4), '-') AS fingerprint
         |FROM sh ORDER BY doc_id""".stripMargin,

    // the oracle states the CONTRACT (NOT EXISTS over fingerprints); the
    // Spark side must reproduce it exactly through the Bloom split
    "o59_incremental_dedup" ->
      s"""WITH $shinglesCte,
         |fp AS (
         |  SELECT doc_id,
         |         array_to_string(list_slice(list_sort(list_distinct(
         |           [CAST(('0x' || substr(md5(x), 25, 8)) AS BIGINT) FOR x IN s])), 1, 4), '-') AS fingerprint
         |  FROM sh)
         |SELECT d.doc_id, d.fingerprint
         |FROM fp d
         |WHERE d.doc_id % 4 = 0
         |  AND NOT EXISTS (SELECT 1 FROM fp h
         |                  WHERE h.doc_id % 4 <> 0 AND h.fingerprint = d.fingerprint)
         |ORDER BY doc_id""".stripMargin
  )
}
