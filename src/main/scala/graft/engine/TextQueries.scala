package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-contract registry for text analysis over `documents`: corpus
  * stats, per-doc quality scoring, top terms, and a language-ID
  * heuristic — the brief's training-data text operators, all built from
  * codegen'd built-ins with exact DuckDB-oracle parity.
  */
object TextQueries {
  import Tables._

  private val stopSqlList =
    graft.functions.TextKernels.Stopwords.map(w => s"'$w'").mkString("(", ",", ")")

  private def toks = TextOps.tokens(col("text"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // corpus stats per source: doc/token/char counts (token counting =
    // whitespace tokenizer; see o25 for the regex/BPE-ish variant)
    "o24_text_stats" -> ((s, d) =>
      documents(s, d)
        .select(col("source"), size(toks).as("n_tokens"), length(col("text")).as("n_chars"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"),
          Analytics.roundDouble(avg(col("n_tokens")), 2).as("avg_tokens"),
          Analytics.roundDouble(avg(col("n_chars")), 2).as("avg_chars"))
        .orderBy("source")),

    // per-doc quality score: token count, a BPE-ish regex token count
    // (word pieces + punctuation as separate tokens), stopword ratio,
    // punctuation count, and a rule-based quality label
    "o25_quality_score" -> ((s, d) => {
      // round 21 continuation: ONE codegen'd byte pass computes all four
      // counters (the old chain ran two regexp_extract_all passes — each
      // allocating every match as a String — plus an interpreted HOF
      // stopword filter plus the tokenize; TextKernelSpec locks
      // value-equality, incl. the regex-alternation semantics). The
      // struct is built once per row (CSE inside the projection); ratio
      // and label reproduce the old double arithmetic exactly — the
      // label reads the UNROUNDED ratio, as before.
      val q = graft.functions.GraftFunctions.qualityStats(col("text"))
      val nTok = q.getField("n_tokens")
      val stopRatio = q.getField("n_stop").cast("double") / nTok.cast("double")
      // gated spread (shared [[Spread]] probe): the regex-heavy scoring
      // wants every core on a single-split corpus, but an ALREADY
      // parallel 100 TB corpus must not pay a full-shuffle for it
      Spread(documents(s, d)).select(
        col("doc_id"),
        nTok.as("n_tokens"),
        q.getField("n_bpeish").as("n_bpeish"),
        q.getField("n_punct").as("n_punct"),
        Analytics.roundDouble(stopRatio, 4).as("stopword_ratio"),
        when(nTok >= 50 && stopRatio.between(0.02, 0.3), "good")
          .when(nTok >= 20, "fair")
          .otherwise("poor").as("quality"))
        .orderBy("doc_id")
    }),

    // top-20 terms by frequency (explode → groupBy → top-k)
    "o26_top_terms" -> ((s, d) =>
      documents(s, d)
        .select(explode(toks).as("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term"))
        .limit(20)),

    // TF-IDF top-3 terms per doc (docs 0-29): tf filtered to the probe
    // docs EARLY (at 100 TB only probe-doc tokens shuffle into tf), df
    // over the FULL corpus, corpus size joined as a 1-row broadcast
    // scalar, ln((N+1)/(df+1)) smoothing rounded to 6 decimals so a
    // last-ulp libm difference cannot flip the hash; ranking uses the
    // rounded score with a term tie-break on both engines
    "o41_tfidf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = documents(s, d)
      val tok = docs.select(col("doc_id"), explode(toks).as("term"))
      // tf is probe-doc-sized (≤ 30 docs' distinct terms) — materialized
      // once so the probe-term broadcast below doesn't clone its subtree
      val tf = tok.filter(col("doc_id") < 30)
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      // round 21 continuation (§3.2 pre-filter): the final join is INNER
      // on term, so df rows for terms absent from tf are dropped anyway —
      // pre-filtering the full-corpus token stream with the broadcast
      // probe-term set means only probe-term (term, doc_id) pairs enter
      // the countDistinct shuffle, instead of the entire vocabulary's
      // token stream. df values for surviving terms are untouched (the
      // count still runs over the full corpus scan). Plan: full-corpus
      // explode → BroadcastHashJoin(probe terms) → distinct-agg, where
      // before the distinct-agg shuffled every token.
      val probeTerms = tf.select("term").distinct()
      val df = tok.join(broadcast(probeTerms), "term")
        .groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(df, "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf", Analytics.roundDouble(col("tf") *
          log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))), 6))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id"))
            .orderBy(col("tfidf").desc, col("term"))))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"))
        .orderBy(col("doc_id"), col("tfidf").desc, col("term"))
    }),

    // training-data curation: DETERMINISTIC stratified sampling by
    // hash threshold — doc kept iff its portable 32-bit hash bucket
    // falls under the stratum's rate (10% of 'en', 50% of everything
    // else). Hash-threshold beats rand()-based sampling at scale on
    // every axis that matters for a corpus pipeline: reproducible
    // across runs/engines (the oracle recomputes the same md5 bucket),
    // stable under re-partitioning, no RNG state per task, and a doc's
    // membership never flips when the corpus around it changes.
    "o55_stratified_sample" -> ((s, d) => {
      val bucket = pmod(TextOps.hash32(col("doc_id").cast("string")), lit(100L))
      Spread(documents(s, d))
        .select(col("doc_id"), col("lang"), bucket.as("bucket"))
        .filter(col("bucket") <
          when(col("lang") === "en", 10L).otherwise(50L))
        .orderBy("doc_id")
    }),

    // training-data curation: SYSTEMATIC PPS SAMPLE (Madow) — k docs
    // drawn with inclusion probability ∝ weight (n_chars here; any
    // quality score in production), deterministically: probe point j
    // sits at cumulative weight total·(2j+1)/(2k) and selects the doc
    // whose [cum_before, cum_before+weight) interval contains it. The
    // cumulative weights come from the o58 DISTRIBUTED prefix sum
    // (per-chunk sums → tiny offset window → broadcast back), never a
    // global single-reducer window; the k probe points and the 1-row
    // total are broadcast. All arithmetic is exact integer multiply/
    // floor-div, so the sample is bit-reproducible on both engines.
    "o79_pps_sample" -> ((s, d) => {
      val k = 20
      val wdocs = Spread(documents(s, d))
        .select(col("doc_id"), col("n_chars").cast("long").as("weight"))
      // two-level chunked prefix sum (round 21): the chunk frame is
      // corpus/1000 rows — data-proportional, so its exclusive cumsum
      // must not be ONE global window; PrefixSum bounds the single-
      // partition frame at corpus/(1000·1024) rows (exact by integer
      // regrouping; unit-locked in TextQueriesSpec)
      val cum = PrefixSum.cumBefore(wdocs, "doc_id", "weight", chunkSize = 1000L)
      val probes = wdocs.agg(sum(col("weight")).as("total"))
        .select(explode(sequence(lit(0), lit(k - 1))).as("j"), col("total"))
        .select(col("j"),
          expr(s"(total * (2 * j + 1)) div ${2 * k}").as("target"))
      cum.join(broadcast(probes),
          col("cum_before") <= col("target") &&
            col("target") < col("cum_before") + col("weight"))
        .select(col("j"), col("target"), col("doc_id"), col("weight"))
        .orderBy("j")
    }),

    // training-data curation: per-language QUALITY QUOTA — the exact
    // top-k docs per language by token count (the o25 scoring family),
    // computed SKEW-PROOF: a naive row_number over partitionBy(lang)
    // sends an entire language to one reducer (a 100 TB corpus has ~30
    // languages — each partition would be corpus-scale). Instead a
    // salted two-stage top-k: rank within (lang, salt-of-16) and keep
    // ≤ k per salt — each global top-k row is necessarily in its salt
    // bucket's top-k, so stage 1 loses nothing and bounds stage 2's
    // input to 16·k rows per language, which one reducer ranks exactly.
    "o56_quality_quota" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val k = 50
      val salts = 16
      val scored = Spread(documents(s, d))
        .select(col("doc_id"), col("lang"), size(toks).as("n_tokens"))
        .withColumn("salt", pmod(hash(col("doc_id")), lit(salts)))
      val stage1 = scored
        .withColumn("srk", row_number().over(
          Window.partitionBy(col("lang"), col("salt"))
            .orderBy(col("n_tokens").desc, col("doc_id"))))
        .filter(col("srk") <= k)
      stage1
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(col("n_tokens").desc, col("doc_id"))))
        .filter(col("rk") <= k)
        .select(col("lang"), col("doc_id"), col("n_tokens"), col("rk"))
        .orderBy("lang", "rk")
    }),

    // training-data curation: pack docs (in doc_id order) into
    // fixed-token-budget training shards — shard k holds the docs whose
    // running token total lands in [k·budget, (k+1)·budget). The naive
    // plan is `sum(n) OVER (ORDER BY doc_id)` — a GLOBAL window that
    // moves the whole corpus to one reducer (the same plan the round-4
    // audit evicted from o35). Here it is a DISTRIBUTED prefix sum over
    // the dense doc_id space: per-chunk sums (groupBy doc_id div C) →
    // window cumsum over the tiny chunk frame → broadcast the offsets
    // back → within-chunk window cumsum. Every stage is bounded: the
    // only single-partition window runs over corpus/C chunk rows.
    "o58_token_shard_packing" -> ((s, d) => {
      val budget = 2000L
      val toked = Spread(documents(s, d))
        .select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
      // two-level chunked prefix sum — see o79's note (round 21)
      PrefixSum.cumBefore(toked, "doc_id", "n_tokens", chunkSize = 1000L)
        .select(col("doc_id"), col("n_tokens"),
          floor(col("cum_before") / budget).cast("long").as("shard"))
        .orderBy("doc_id")
    }),

    // training-data decontamination: flag training docs sharing any
    // 5-token gram with the EVAL set (doc_id ≡ 0 mod 10 stands in for a
    // held-out benchmark) — the standard n-gram-overlap decontamination
    // pass. Scale shape: a benchmark is MBs against a 100 TB corpus, so
    // the eval gram set is a BROADCAST build side and the training side
    // stays shuffle-free through the probe; per-doc distinct grams are
    // map-side (array_distinct before explode), so n_hits = joined row
    // count with no countDistinct shuffle. The left join back restores
    // clean docs with n_hits = 0 — the output is the full audit ledger,
    // not just the hits.
    "o60_decontaminate" -> ((s, d) => {
      val docs = Spread(documents(s, d))
      def grams(df: DataFrame) = df.select(col("doc_id"),
        explode(TextOps.shingleSet(col("text"), 5)).as("g")) // r21: one-pass kernel

      val evalGrams = broadcast(
        grams(docs.filter(pmod(col("doc_id"), lit(10)) === 0))
          .select("g").distinct())
      val train = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      val hits = grams(train).join(evalGrams, "g")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
      train.select("doc_id").join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
        .orderBy("doc_id")
    }),

    // training-data quality: Gopher-style repetition metrics per doc —
    // top-token share (explode → two-level agg: partial map-side combine
    // on (doc_id, tok) keeps the shuffle narrow and skew-proof; an
    // all-distinct-tokens array scan would be O(n²) per doc and die on
    // long docs) and duplicate-2-gram fraction (pure map-side array
    // arithmetic, no shuffle at all). The flag thresholds compare the
    // ROUNDED metrics so the oracle's boundary decisions are identical.
    "o61_repetition_metrics" -> ((s, d) => {
      val docs = Spread(documents(s, d))
      val sh2 = TextOps.shinglesText(col("text"), 2) // r21: one-pass kernel
      val base = docs.select(col("doc_id"),
        size(toks).as("n_tokens"),
        Analytics.roundDouble(lit(1.0) - size(array_distinct(sh2)).cast("double") /
          size(sh2).cast("double"), 4).as("dup_2gram_frac"))
      val topTok = docs.select(col("doc_id"), explode(toks).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max(col("c")).as("max_tok"))
      base.join(topTok, "doc_id")
        .withColumn("top_token_share",
          Analytics.roundDouble(col("max_tok").cast("double") / col("n_tokens").cast("double"), 4))
        .select(col("doc_id"), col("n_tokens"), col("top_token_share"),
          col("dup_2gram_frac"),
          (col("top_token_share") >= 0.2 || col("dup_2gram_frac") >= 0.05)
            .as("repetitive"))
        .orderBy("doc_id")
    }),

    // training-data dedup audit: cross-doc duplicated n-gram ledger (the
    // exact-substring-dedup flavor of Lee et al.'s "Deduplicating
    // Training Data", completing the o60/o61 trio) — per doc, how many
    // of its 4-gram POSITIONS carry a gram that appears in ≥ 2 distinct
    // docs corpus-wide. The duplicated-gram set comes from a TWO-LEVEL
    // distinct count (per-doc distinct map-side via the one-pass
    // shingleSet kernel, then a plain count — the (doc, gram) stream
    // shuffles once, never countDistinct) and prunes
    // the position stream by semi-join. The left join back restores
    // clean docs with zeros — an audit ledger, not just hits.
    "o62_dup_ngram_stats" -> ((s, d) => {
      // Round 21 (the o65 precedent applied): the r20 barrier cached the
      // per-doc 4-gram ARRAYS — ~4× corpus bytes of block-manager
      // residue to save two re-shingles. With the one-pass shingle
      // kernel the re-derive is cheap, so the three consumers (position
      // stream, per-doc distinct grams via the shingleSet kernel,
      // per-doc counts) each read the pruned scan directly; nothing
      // corpus-sized is ever cached.
      val docs = Spread(documents(s, d))
      val pos = docs.select(col("doc_id"),
        explode(TextOps.shinglesText(col("text"), 4)).as("g"))
      val docGrams = docs.select(col("doc_id"),
        explode(TextOps.shingleSet(col("text"), 4)).as("g"))
      val dup = docGrams.groupBy("g").agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2).select("g")
      val hits = pos.join(dup, Seq("g"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
      docs.select(col("doc_id"),
          size(TextOps.shinglesText(col("text"), 4)).cast("long").as("n_grams"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup_grams"),
          Analytics.roundDouble(coalesce(col("n_dup"), lit(0L)).cast("double") /
            col("n_grams").cast("double"), 4).as("dup_frac"))
        .orderBy("doc_id")
    }),

    // the composed curation pipeline — the operators above chained the
    // way a real training-corpus prep run chains them, emitting the
    // per-doc FATE LEDGER ("why was my doc dropped"): language gate →
    // token-count quality gate → content-fingerprint dedup (the o27/o59
    // winnowing kernel, keep-min-id) → deterministic hash-threshold
    // sampling (the o55 kernel), first failing stage wins. Everything
    // stays narrow: text is read once into (n_tokens, fingerprint) and
    // never shuffles; the dedup key join carries ids and 40-byte
    // fingerprints only; the ledger keeps EVERY doc, so downstream
    // audits need no re-run of the gates.
    "o64_curation_pipeline" -> ((s, d) => {
      val langs = Seq("en", "de", "fr")
      // per-doc gate frame MATERIALIZED once (eager localCheckpoint,
      // round 20): the keep-id aggregation and the fate-ledger join each
      // planned their own scan + tokenize + winnowing-fingerprint pass
      // (two scan subtrees in the sf0.001 formatted plan, the second
      // with the full fingerprint chain re-inlined); the barrier
      // computes the ~60 B/doc gate columns once and both consumers
      // read the cached blocks.
      val base = Spread(documents(s, d)).select(
        col("doc_id"), col("lang"),
        size(toks).as("n_tokens"),
        TextOps.fingerprint(col("text")).as("fp"),
        pmod(TextOps.hash32(col("doc_id").cast("string")), lit(100L)).as("bucket"))
        .localCheckpoint(true)
      val keep = base
        .filter(col("lang").isin(langs: _*) && col("n_tokens") >= 20)
        .groupBy("fp").agg(min(col("doc_id")).as("keep_id"))
      base.join(keep, Seq("fp"), "left")
        .select(col("doc_id"), col("lang"),
          when(!col("lang").isin(langs: _*), "lang")
            .when(col("n_tokens") < 20, "quality")
            .when(col("doc_id") =!= col("keep_id"), "duplicate")
            .when(col("bucket") >=
              when(col("lang") === "en", 50L).otherwise(80L), "sampled_out")
            .otherwise("kept").as("fate"))
        .orderBy("doc_id")
    }),

    // corpus statistics: Zipf's-law fit of the term frequency
    // distribution — ln(freq) regressed on ln(rank). The rank is the
    // scale-sensitive part: a naive `row_number() OVER (ORDER BY freq
    // DESC)` is a single-reducer sort of the whole vocabulary (the plan
    // the round-4 audit evicted from o35). Here rank is DISTRIBUTED, the
    // o58 prefix-sum pattern applied to tie classes: per-frequency class
    // sizes → cumulative offsets over the tiny distinct-freq frame →
    // broadcast back; within a tie class, ranks are assigned by a SALTED
    // two-level row_number (16 hash salts — the hapax class is half the
    // vocabulary and would otherwise be one reducer's sort). Which term
    // of a tie class gets which rank is arbitrary BY CONSTRUCTION and
    // harmless BY ALGEBRA: y = ln(freq) is constant within a class, so
    // the regression's Σx, Σx², Σxy over the class are multiset
    // invariants — the oracle's naive global window provably computes
    // the same fit.
    "o63_zipf_fit" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val salts = 16
      // vocabulary-sized term-frequency frame MATERIALIZED once (eager
      // localCheckpoint, round 20): its three consumers — the tie-class
      // census, the per-(freq, salt) sizes and the ranked stream — each
      // planned their own scan→tokenize→explode→aggregate pass over the
      // corpus (three Generate subtrees in the sf0.001 formatted plan);
      // the barrier runs the corpus pass once and the three re-reads are
      // vocabulary-sized (≪ corpus, Heaps' law).
      val tf = Spread(documents(s, d))
        .select(explode(toks).as("term"))
        .groupBy("term").agg(count(lit(1)).as("freq"))
        .localCheckpoint(true)
      val classes = tf.groupBy("freq").agg(count(lit(1)).as("nf"))
        .withColumn("offset", coalesce(sum(col("nf")).over(
          Window.orderBy(col("freq").desc)
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val saltSizes = tf
        .withColumn("salt", pmod(hash(col("term")), lit(salts)))
        .groupBy("freq", "salt").agg(count(lit(1)).as("ns"))
        .withColumn("soffset", coalesce(sum(col("ns")).over(
          Window.partitionBy(col("freq")).orderBy(col("salt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("freq"), col("salt"), col("soffset"))
      val ranked = tf
        .withColumn("salt", pmod(hash(col("term")), lit(salts)))
        .withColumn("rw", row_number().over(
          Window.partitionBy(col("freq"), col("salt")).orderBy(col("term"))))
        .join(broadcast(classes.select("freq", "offset")), "freq")
        .join(broadcast(saltSizes), Seq("freq", "salt"))
        .select(col("freq"),
          (col("offset") + col("soffset") + col("rw")).as("rank"))
      ranked.agg(
        count(lit(1)).as("n_terms"),
        sum(col("freq")).cast("long").as("total_tokens"),
        Analytics.roundDouble(regr_slope(log(col("freq")), log(col("rank"))), 4).as("slope"),
        Analytics.roundDouble(regr_intercept(log(col("freq")), log(col("rank"))), 4).as("intercept"),
        Analytics.roundDouble(regr_r2(log(col("freq")), log(col("rank"))), 4).as("r2"))
    }),

    // n-gram/stopword language-ID heuristic vs the labeled lang column
    "o28_lang_id" -> ((s, d) => {
      // round 21 continuation: same stopword-ratio arithmetic, fed by the
      // one-pass o25 byte kernel instead of tokenize + interpreted HOF
      // filter (two passes; TextKernelSpec locks the counter equality)
      val q = graft.functions.GraftFunctions.qualityStats(col("text"))
      val enRatio = q.getField("n_stop").cast("double") /
        q.getField("n_tokens").cast("double")
      documents(s, d)
        .select(col("lang"), when(enRatio >= 0.05, "en").otherwise("und").as("guess"))
        .groupBy("lang", "guess")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "guess")
    }),

    // perplexity-proxy quality score: per-doc mean unigram SURPRISAL in
    // bits, −avg log2 p(tok), under the corpus's own unigram LM — the
    // cheap stand-in for the perplexity filter every LLM-corpus pipeline
    // runs (CCNet-style), with no model artifact needed. Shape (round 21,
    // reworked per the r20 verdict): the round-20 barrier materialized
    // the CORPUS-SIZED (doc_id, tok) stream in the block manager to save
    // two re-reads of a column-pruned scan — the one barrier site whose
    // residue exceeded what it saved (driver bench 1.22 → 1.72 s; at
    // 100 TB it writes ~corpus bytes to local block storage). Now only
    // the VOCABULARY-SIZED LM is checkpointed (≪ corpus, Heaps' law):
    // pass 1 tokenizes into the LM counts (map-side partial agg, so the
    // exchange carries (tok, count) not the token stream), pass 2
    // re-tokenizes the pruned scan and joins the LM (AQE broadcasts it
    // at any realistic SF); the one-row total is a pinned broadcast.
    // Two pruned corpus passes, zero corpus-sized residue — the §2.3
    // "shuffle keys, not payloads" trade, applied to block storage.
    "o65_unigram_surprisal" -> ((s, d) => {
      val cnt = Spread(documents(s, d))
        .select(explode(toks).as("tok"))
        .groupBy("tok").agg(count(lit(1)).cast("double").as("c"))
        .localCheckpoint(true)
      val tot = cnt.agg(sum(col("c")).as("n"))
      Spread(documents(s, d))
        .select(col("doc_id"), explode(toks).as("tok"))
        .join(cnt, "tok")
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          Analytics.roundDouble(avg(-log(2.0, col("c") / col("n"))), 2).as("surprisal"))
        .orderBy("doc_id")
    }),

    // leak-free train/val/test split: the split key is a hash of the
    // CONTENT (portable md5-derived bucket of the full text), not the
    // doc id — byte-identical duplicates land in the same split by
    // construction, so exact-dup leakage across train/test is
    // impossible no matter how the corpus is sharded or re-ingested.
    // Pure map-side: no shuffle at any scale; 80/10/10 by bucket.
    "o66_hash_split" -> ((s, d) => {
      val bucket = pmod(TextOps.hash32(col("text")), lit(100L))
      documents(s, d)
        .select(col("doc_id"), col("lang"), bucket.as("bucket"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    }),

    // PII/brand redaction ledger: per-doc match counts for an email, an
    // IPv4 and a denylist-term pattern plus the md5 + length of the
    // fully-masked text — the audit artifact a scrubbing pass must
    // emit (counts prove what was found; the hash pins what was
    // shipped). Patterns stay in the RE2-compatible subset so the Java
    // and DuckDB engines agree byte-for-byte. Map-side only — the scan
    // is the whole cost at any scale; gated Spread fans a single-split
    // corpus across cores for the regex-heavy pass.
    "o67_redaction_ledger" -> ((s, d) => {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ipv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val brand = "\\bspark\\b"
      val mask = "[MASKED]"
      val redacted = regexp_replace(regexp_replace(regexp_replace(
        col("text"), email, mask), ipv4, mask), brand, mask)
      Spread(documents(s, d)).select(col("doc_id"),
        regexp_count(col("text"), lit(email)).cast("long").as("n_email"),
        regexp_count(col("text"), lit(ipv4)).cast("long").as("n_ipv4"),
        regexp_count(col("text"), lit(brand)).cast("long").as("n_brand"),
        md5(redacted).as("redacted_md5"),
        length(redacted).cast("long").as("redacted_len"))
        .orderBy("doc_id")
    }),

    // BM25 top-15 retrieval (k1=1.2, b=0.75) for a fixed 3-term query.
    // The retrieval plan a 100 TB corpus wants: the per-doc projection
    // keeps ONLY query-term tokens (the filter sits inside the token
    // array before the explode, so non-matching tokens never become
    // rows), dl rides along in the same projection — corpus text is
    // scanned once and only query-term postings enter the (doc, term)
    // aggregation. N/avgdl is a 1-row broadcast; df comes from the
    // already-filtered postings (df(t) = docs where tf(t) > 0). Scores
    // are rounded to 6 dp on both engines so a last-ulp libm ln/÷
    // difference cannot flip the hash or the ranking; ties break on
    // doc_id. Top-k compiles to TakeOrderedAndProject — no global sort.
    "o68_bm25_topk" -> ((s, d) => {
      val qTerms = Seq("spark", "hash", "join")
      val k1 = 1.2
      val b = 0.75
      val perDoc = documents(s, d)
        .select(col("doc_id"), size(toks).as("dl"),
          filter(toks, t => t.isin(qTerms: _*)).as("qtoks"))
        .filter(size(col("qtoks")) > 0)
      // query-term postings MATERIALIZED once (eager localCheckpoint,
      // round 20): both consumers — the df build and the scoring join —
      // planned their own scan→tokenize→filter→explode pass (two
      // Generate subtrees in the sf0.001 formatted plan); the barrier
      // runs the corpus pass once and the postings frame it caches is
      // query-term-sized, not corpus-sized.
      val tf = perDoc
        .select(col("doc_id"), col("dl"), explode(col("qtoks")).as("term"))
        .groupBy(col("doc_id"), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val stats = documents(s, d)
        .agg(count(lit(1)).as("n_docs"), avg(size(toks)).as("avgdl"))
      tf.join(broadcast(df), "term")
        .crossJoin(broadcast(stats))
        .withColumn("idf", log(
          (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
        .withColumn("score", col("idf") * col("tf") * (lit(k1) + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
        .groupBy(col("doc_id"))
        .agg(Analytics.roundDouble(sum(col("score")), 6).as("bm25"),
          count(lit(1)).as("n_terms_hit"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(15)
    }),

    // RAG/pretraining chunking: overlapping token windows (size 32,
    // stride 24) with per-chunk content hashes — the shape a chunk
    // embedding or packing stage consumes. Entirely map-side builtins
    // (sequence → explode → slice → md5): zero shuffle at any corpus
    // size, and chunk identity (doc_id, chunk_id) is stable under
    // re-partitioning because it derives from token offsets, not row
    // order. The md5 pins chunk CONTENT parity with the oracle without
    // dumping chunk text through the harness.
    "o71_doc_chunks" -> ((s, d) => {
      val size32 = 32
      val stride = 24
      // round 21 continuation: one-pass codegen'd chunk kernel. The old
      // explode(sequence)/slice/md5 chain duplicated the FULL token
      // array into every chunk row (the Generate carries `t`:
      // O(tokens²/stride) bytes per doc) and joined+hashed each window
      // separately; the kernel emits the (n_chunk_tokens, chunk_md5)
      // ledger in one byte pass, so only ~40 B/chunk ever leaves the
      // scan. chunk_id = the posexplode index (same (start-1)/stride
      // value, same long type). Value-equality with the old chain is
      // locked in TextKernelSpec; the zero-token filter is preserved
      // because the kernel returns an empty array there and posexplode
      // drops the row.
      documents(s, d)
        .select(col("doc_id"),
          posexplode(graft.functions.GraftFunctions.chunkLedger(
            col("text"), size32, stride)))
        .select(col("doc_id"),
          col("pos").cast("long").as("chunk_id"),
          col("col.n_chunk_tokens").as("n_chunk_tokens"),
          col("col.chunk_md5").as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    })
  )

  private val toksCte =
    """toks AS (
      |  SELECT *, list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS t
      |  FROM documents)""".stripMargin

  def oracles: Map[String, String] = Map(
    // single ordered cumsum window (the oracle may centralize; the Spark
    // side may not) + the same exact integer probe targets
    "o79_pps_sample" ->
      """WITH w AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight FROM documents),
        |c AS (
        |  SELECT doc_id, weight,
        |         COALESCE(SUM(weight) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM w),
        |tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS total FROM w),
        |pr AS (
        |  SELECT j.range AS j,
        |         CAST((tot.total * (2 * j.range + 1)) // 40 AS BIGINT) AS target
        |  FROM range(20) j, tot)
        |SELECT CAST(pr.j AS INTEGER) AS j, pr.target, c.doc_id, c.weight
        |FROM pr JOIN c ON c.cb <= pr.target AND pr.target < c.cb + c.weight
        |ORDER BY j""".stripMargin,

    "o55_stratified_sample" ->
      """SELECT doc_id, lang,
        |       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 25, 8)) AS BIGINT) % 100 AS bucket
        |FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 25, 8)) AS BIGINT) % 100
        |      < CASE WHEN lang = 'en' THEN 10 ELSE 50 END
        |ORDER BY doc_id""".stripMargin,

    // single-window running total — the oracle gets to use the plan the
    // Spark side deliberately avoids; results must be identical
    "o58_token_shard_packing" ->
      s"""WITH $toksCte
         |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |       CAST(floor(COALESCE(SUM(len(t)) OVER (ORDER BY doc_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000) AS BIGINT) AS shard
         |FROM toks ORDER BY doc_id""".stripMargin,

    // the oracle ranks each language in one pass — the salted two-stage
    // Spark plan must produce the identical exact top-k
    "o56_quality_quota" ->
      s"""WITH $toksCte,
         |ranked AS (
         |  SELECT lang, doc_id, CAST(len(t) AS INTEGER) AS n_tokens,
         |         CAST(row_number() OVER (PARTITION BY lang
         |           ORDER BY len(t) DESC, doc_id) AS INTEGER) AS rk
         |  FROM toks)
         |SELECT lang, doc_id, n_tokens, rk FROM ranked
         |WHERE rk <= 50 ORDER BY lang, rk""".stripMargin,

    "o24_text_stats" ->
      s"""WITH $toksCte
         |SELECT source, COUNT(*) AS n_docs,
         |       CAST(SUM(len(t)) AS BIGINT) AS total_tokens,
         |       ROUND(AVG(len(t)), 2) AS avg_tokens,
         |       ROUND(AVG(length(text)), 2) AS avg_chars
         |FROM toks GROUP BY source ORDER BY source""".stripMargin,

    "o25_quality_score" ->
      s"""WITH $toksCte,
         |q AS (
         |  SELECT doc_id, len(t) AS n_tokens,
         |         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpeish,
         |         len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
         |         CAST(len(list_filter(t, x -> x IN $stopSqlList)) AS DOUBLE) /
         |         CAST(len(t) AS DOUBLE) AS sr
         |  FROM toks)
         |SELECT doc_id, n_tokens, n_bpeish, n_punct, ROUND(sr, 4) AS stopword_ratio,
         |       CASE WHEN n_tokens >= 50 AND sr BETWEEN 0.02 AND 0.3 THEN 'good'
         |            WHEN n_tokens >= 20 THEN 'fair' ELSE 'poor' END AS quality
         |FROM q ORDER BY doc_id""".stripMargin,

    "o26_top_terms" ->
      s"""WITH $toksCte
         |SELECT term, COUNT(*) AS cnt
         |FROM (SELECT unnest(t) AS term FROM toks)
         |GROUP BY term ORDER BY cnt DESC, term LIMIT 20""".stripMargin,

    "o60_decontaminate" ->
      s"""WITH $toksCte,
         |sh5 AS (
         |  SELECT doc_id, CASE WHEN len(t) <= 5 THEN [array_to_string(t, ' ')]
         |         ELSE [array_to_string(list_slice(t, i, i+4), ' ') FOR i IN range(1, len(t)-3)]
         |         END AS s
         |  FROM toks),
         |ev AS (SELECT DISTINCT unnest(list_distinct(s)) AS g FROM sh5 WHERE doc_id % 10 = 0),
         |tr AS (SELECT doc_id, unnest(list_distinct(s)) AS g FROM sh5 WHERE doc_id % 10 <> 0),
         |hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
         |         FROM tr JOIN ev USING (g) GROUP BY doc_id)
         |SELECT t.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
         |       COALESCE(h.n_hits, 0) > 0 AS contaminated
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) t
         |LEFT JOIN hits h USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "o61_repetition_metrics" ->
      s"""WITH $toksCte,
         |m AS (
         |  SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens,
         |         CASE WHEN len(t) <= 2 THEN [array_to_string(t, ' ')]
         |         ELSE [array_to_string(list_slice(t, i, i+1), ' ') FOR i IN range(1, len(t))]
         |         END AS s
         |  FROM toks),
         |base AS (
         |  SELECT doc_id, n_tokens,
         |         ROUND(1.0 - CAST(len(list_distinct(s)) AS DOUBLE) /
         |                     CAST(len(s) AS DOUBLE), 4) AS dup_2gram_frac
         |  FROM m),
         |tc AS (SELECT doc_id, tok, COUNT(*) AS c
         |       FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY 1, 2),
         |mt AS (SELECT doc_id, MAX(c) AS max_tok FROM tc GROUP BY 1),
         |j AS (
         |  SELECT b.doc_id, b.n_tokens,
         |         ROUND(CAST(mt.max_tok AS DOUBLE) / CAST(b.n_tokens AS DOUBLE), 4)
         |           AS top_token_share,
         |         b.dup_2gram_frac
         |  FROM base b JOIN mt USING (doc_id))
         |SELECT doc_id, n_tokens, top_token_share, dup_2gram_frac,
         |       (top_token_share >= 0.2 OR dup_2gram_frac >= 0.05) AS repetitive
         |FROM j ORDER BY doc_id""".stripMargin,

    "o64_curation_pipeline" ->
      s"""WITH $toksCte,
         |sh AS (
         |  SELECT doc_id, CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
         |         ELSE [array_to_string(list_slice(t, i, i+2), ' ') FOR i IN range(1, len(t)-1)]
         |         END AS s
         |  FROM toks),
         |base AS (
         |  SELECT t.doc_id, t.lang, len(t.t) AS n_tokens,
         |         array_to_string(list_slice(list_sort(list_distinct(
         |           [CAST(('0x' || substr(md5(x), 25, 8)) AS BIGINT) FOR x IN sh.s])), 1, 4), '-') AS fp,
         |         CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 25, 8)) AS BIGINT) % 100 AS bucket
         |  FROM toks t JOIN sh USING (doc_id)),
         |keep AS (
         |  SELECT fp, MIN(doc_id) AS keep_id FROM base
         |  WHERE lang IN ('en','de','fr') AND n_tokens >= 20 GROUP BY fp)
         |SELECT b.doc_id, b.lang,
         |       CASE WHEN b.lang NOT IN ('en','de','fr') THEN 'lang'
         |            WHEN b.n_tokens < 20 THEN 'quality'
         |            WHEN b.doc_id != k.keep_id THEN 'duplicate'
         |            WHEN b.bucket >= CASE WHEN b.lang = 'en' THEN 50 ELSE 80 END
         |              THEN 'sampled_out'
         |            ELSE 'kept' END AS fate
         |FROM base b LEFT JOIN keep k USING (fp)
         |ORDER BY doc_id""".stripMargin,

    "o62_dup_ngram_stats" ->
      s"""WITH $toksCte,
         |sh4 AS (
         |  SELECT doc_id, CASE WHEN len(t) <= 4 THEN [array_to_string(t, ' ')]
         |         ELSE [array_to_string(list_slice(t, i, i+3), ' ') FOR i IN range(1, len(t)-2)]
         |         END AS s
         |  FROM toks),
         |pos AS (SELECT doc_id, unnest(s) AS g FROM sh4),
         |dg AS (SELECT doc_id, unnest(list_distinct(s)) AS g FROM sh4),
         |dup AS (SELECT g FROM dg GROUP BY g HAVING COUNT(*) >= 2),
         |hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
         |         FROM pos JOIN dup USING (g) GROUP BY doc_id)
         |SELECT s.doc_id, CAST(len(s.s) AS BIGINT) AS n_grams,
         |       COALESCE(h.n_dup, 0) AS n_dup_grams,
         |       ROUND(CAST(COALESCE(h.n_dup, 0) AS DOUBLE) /
         |             CAST(len(s.s) AS DOUBLE), 4) AS dup_frac
         |FROM sh4 s LEFT JOIN hits h USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // the oracle gets the naive single-window global rank the Spark side
    // deliberately avoids; the fit is identical because the regression
    // sums are invariant to rank assignment within a frequency tie class
    "o63_zipf_fit" ->
      s"""WITH $toksCte,
         |tf AS (SELECT term, COUNT(*) AS freq
         |       FROM (SELECT unnest(t) AS term FROM toks) GROUP BY term),
         |ranked AS (
         |  SELECT freq, row_number() OVER (ORDER BY freq DESC, term) AS r
         |  FROM tf)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
         |       CAST(SUM(freq) AS BIGINT) AS total_tokens,
         |       ROUND(regr_slope(ln(freq), ln(r)), 4) AS slope,
         |       ROUND(regr_intercept(ln(freq), ln(r)), 4) AS intercept,
         |       ROUND(regr_r2(ln(freq), ln(r)), 4) AS r2
         |FROM ranked""".stripMargin,

    "o28_lang_id" ->
      s"""WITH $toksCte
         |SELECT lang,
         |       CASE WHEN CAST(len(list_filter(t, x -> x IN $stopSqlList)) AS DOUBLE) /
         |                 CAST(len(t) AS DOUBLE) >= 0.05
         |            THEN 'en' ELSE 'und' END AS guess,
         |       COUNT(*) AS n_docs
         |FROM toks GROUP BY 1, 2 ORDER BY lang, guess""".stripMargin,

    "o41_tfidf" ->
      s"""WITH $toksCte,
         |tok AS (SELECT doc_id, unnest(t) AS term FROM toks),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf
         |       FROM tok WHERE doc_id < 30 GROUP BY 1, 2),
         |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |         ROUND(tf.tf * LN((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
         |  FROM tf JOIN df USING (term) CROSS JOIN n),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |                               ORDER BY tfidf DESC, term) AS rn
         |  FROM scored)
         |SELECT doc_id, term, tf, df, tfidf FROM ranked WHERE rn <= 3
         |ORDER BY doc_id, tfidf DESC, term""".stripMargin,

    "o65_unigram_surprisal" ->
      s"""WITH $toksCte,
         |tk AS (SELECT doc_id, unnest(t) AS tok FROM toks),
         |cnt AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c FROM tk GROUP BY tok),
         |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tk)
         |SELECT tk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |       ROUND(AVG(-log2(cnt.c / tot.n)), 2) AS surprisal
         |FROM tk JOIN cnt USING (tok) CROSS JOIN tot
         |GROUP BY tk.doc_id ORDER BY tk.doc_id""".stripMargin,

    "o66_hash_split" ->
      s"""SELECT doc_id, lang, bucket,
         |       CASE WHEN bucket < 80 THEN 'train'
         |            WHEN bucket < 90 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id, lang,
         |        CAST(('0x' || substr(md5(text), 25, 8)) AS BIGINT) % 100 AS bucket
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "o67_redaction_ledger" ->
      s"""SELECT doc_id, n_email, n_ipv4, n_brand,
         |       md5(redacted) AS redacted_md5,
         |       CAST(length(redacted) AS BIGINT) AS redacted_len
         |FROM (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text,
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
         |    CAST(len(regexp_extract_all(text,
         |      '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ipv4,
         |    CAST(len(regexp_extract_all(text, '\\bspark\\b')) AS BIGINT) AS n_brand,
         |    regexp_replace(regexp_replace(regexp_replace(text,
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[MASKED]', 'g'),
         |      '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[MASKED]', 'g'),
         |      '\\bspark\\b', '[MASKED]', 'g') AS redacted
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,

    // constants are spelled as the same ARITHMETIC Spark's plan folds
    // ((1.2 + 1.0), not 2.2) so both engines round the identical IEEE
    // double; AVG over integer token counts is order-independent
    // (integer-valued double sums are exact below 2^53)
    "o68_bm25_topk" ->
      s"""WITH $toksCte,
         |qd AS (
         |  SELECT doc_id, len(t) AS dl,
         |         list_filter(t, x -> x IN ('spark', 'hash', 'join')) AS q
         |  FROM toks),
         |tf AS (
         |  SELECT doc_id, dl, term, COUNT(*) AS tf
         |  FROM (SELECT doc_id, dl, unnest(q) AS term FROM qd WHERE len(q) > 0)
         |  GROUP BY 1, 2, 3),
         |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |st AS (SELECT COUNT(*) AS n_docs, AVG(len(t)) AS avgdl FROM toks)
         |SELECT doc_id,
         |       ROUND(SUM(LN((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0) /
         |                 (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS bm25,
         |       CAST(COUNT(*) AS BIGINT) AS n_terms_hit
         |FROM tf JOIN df USING (term) CROSS JOIN st
         |GROUP BY doc_id
         |ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin,

    "o71_doc_chunks" ->
      s"""WITH $toksCte,
         |st AS (
         |  SELECT doc_id, t, unnest(range(1, len(t) + 1, 24)) AS start
         |  FROM toks WHERE len(t) > 0)
         |SELECT doc_id, CAST((start - 1) // 24 AS BIGINT) AS chunk_id,
         |       CAST(len(list_slice(t, start, start + 31)) AS BIGINT) AS n_chunk_tokens,
         |       md5(array_to_string(list_slice(t, start, start + 31), ' ')) AS chunk_md5
         |FROM st ORDER BY doc_id, chunk_id""".stripMargin
  )
}
