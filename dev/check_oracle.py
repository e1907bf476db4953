#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle correctness gate.

Dev-only harness (uses driver-side duckdb/pandas — NOT a dependency of the
Scala library): runs each oracle SQL from <outDir>/oracle_sql.json against
the sfDir parquet tables in DuckDB and compares with the Spark parquet dump
written by graft.Verify. Columns are sorted by name before comparison, like
the driver; rows are compared both in emitted order and sorted.

After the `== N pass, ... ==` line, one `[empty-pass]` line names the
queries that passed on 0 rows: for those the check covered the output
schema only.

Usage: python3 dev/check_oracle.py <sfDir> <verifyOutDir> [--timeout SECS]
       [--json OUT] [--memory-limit SIZE] [--temp-dir DIR[:MAXSIZE]]
       [--only q1,q2,...] [--replica-proof q1,q2,...]
       [--proof-src SMALL_SF_DIR] [--proof-cache DIR]

--replica-proof: check the named queries by REPLICA-STRUCTURE PROOF instead
of running their (infeasible) all-pairs oracle — see PROOF_SPEC below for
the argument and which queries are eligible. --proof-src is the small-sf
table dir the truth anchors to (default /root/testdata/sf0.1);
--proof-cache caches the one heavy all-pairs truth run per query as
parquet (default target/proof_truth), shared by the sf1 and sf10 sweeps.

--timeout: per-oracle wall-clock budget; a DuckDB run past it is interrupted
and recorded as `oracle_infeasible` with an explicit reason (skipped, not
failed) — for sf1/sf10 sweeps where the handful of all-pairs oracles are
infeasible in DuckDB but everything else is checkable. --json: also write
per-query results as JSON (for the CORRECTNESS_sf{N}_r{N} artifact).
--memory-limit: DuckDB memory_limit (e.g. 24GB) so big oracles spill instead
of OOM-ing. --temp-dir: DuckDB temp_directory, optionally with a
max_temp_directory_size cap (e.g. /tmp/ducktmp:40GB) so a spilling oracle
(o70's 5-round CTE chain at sf10) is bounded-disk and DECIDABLE instead of
dying of out-of-disk. --only: restrict the sweep to a comma-separated query
subset (targeted re-proof runs).

Every non-green row carries a `method` + `reason` field, so the artifact is
self-describing: `oracle_infeasible` (timeout / resource exhaustion, with
the trigger), `rows_only` (documented no-SQL-oracle sketches), or a real
`match: false`.

Type gate (round 15): the driver's hash is TYPE-SENSITIVE — DuckDB widens
SUM(BIGINT) and '//'-over-HUGEINT to HUGEINT (int128), which pandas silently
normalizes, so a value-only comparison passes where the driver fails (this is
exactly how o74/o79 slipped through in round 14). We now DESCRIBE both the
oracle SQL and the Spark parquet dump in DuckDB and fail on any column whose
declared types differ, before comparing values.
"""
import sys, os, json, decimal
import duckdb
import pandas as pd


def decimal_repr_drift(s, o):
    """Columns whose decimal VALUES are equal but RENDER differently.

    Round-17 lesson (m07, r16): pandas compares decimal.Decimal by VALUE
    (Decimal('1.45') == Decimal('1.4500')), but the driver's hash is
    representation-sensitive — the mirror passed m07 while the driver
    stayed red on bit-identical values. For any column carrying Decimal
    objects on either side, require the canonical string renderings to
    match exactly, so the mirror is at least as strict as any plausible
    string/serialization-based driver hash.
    """
    drift = {}
    for c in s.columns:
        sv, ov = s[c], o[c]
        has_dec = any(isinstance(v, decimal.Decimal) for v in sv[:64]) or \
                  any(isinstance(v, decimal.Decimal) for v in ov[:64])
        if not has_dec:
            continue
        neq = [(a, b) for a, b in zip(sv, ov) if str(a) != str(b)]
        if neq:
            drift[c] = [f"spark={a!r} oracle={b!r}" for a, b in neq[:3]]
    return drift


def described_types(con, sql):
    """Column name -> DuckDB type string for a query, without running it."""
    rows = con.execute(f"DESCRIBE ({sql})").fetchall()
    return {r[0]: r[1] for r in rows}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# --- replica-structure proofs (round 17) -----------------------------------
# The three text-dedup oracles are all-pairs exact Jaccard — DuckDB-
# infeasible beyond sf0.1 (>240 s / >900 s budgets at sf1/sf10). But the
# rehearsal GENERATOR (graft.ScaleData) gives them a decidable structure:
# every word in replica r>0 carries an injective per-replica suffix (_rN),
# so (a) shingle sets are DISJOINT across replicas — a cross-replica pair
# has Jaccard 0, below any τ>0 — and (b) within a replica the shingle map
# is injective, so |A∩B| / |A∪B| is IDENTICAL to the rep-0 value (Jaccard
# only sees set cardinalities). Both are generator facts, independent of
# the Spark code under test (corpus pre-checked: zero rep-0 tokens match
# the _r\d+$ suffix scheme, so the injection cannot collide). Therefore
# the sf{N} truth is EXACTLY `factor` id-shifted copies of the sf0.1
# truth, and equality against that expansion is a complete check, not a
# sample: it pins the absence of cross-replica pairs, the presence of
# every within-replica pair, and bit-identical Jaccard doubles (integer
# set sizes → the same IEEE division in every replica). The rep-0 slice
# is anchored to an INDEPENDENT DuckDB all-pairs run on the small-sf
# tables (computed once, cached as parquet).
#   shift: id columns that translate by rep × stride (stride = small-sf
#          max doc_id + 1); the proof checks all of them land in the SAME
#          replica and maps them back with % stride.
#   keep:  replica-invariant columns that must match the small-sf truth
#          exactly (Jaccard doubles, keep-flags).
PROOF_SPEC = {
    "o22_minhash_lsh_jaccard": {"shift": ["a", "b"], "keep": ["jaccard"]},
    "o53_ngram_prefix_jaccard": {"shift": ["a", "b"], "keep": ["jaccard"]},
    # components of a replica-disjoint pair graph are replica-local, and
    # comp = min doc_id of the component translates like any id
    "o54_dedup_components": {"shift": ["doc_id", "comp"], "keep": ["is_kept"]},
    # o57_srp_blocked_neardup is NOT proof-eligible (round 18, considered
    # and rejected): the embeddings replica transform is a CYCLIC ROTATION
    # (ScaleData), which preserves norms and pairwise dot products WITHIN a
    # replica but not SRP signatures — the 64 hyperplanes are fixed, so
    # sig(rot(v)) has no relation to sig(v) and replica r's within-replica
    # hamming pair set differs from rep-0's. Worse, the k-means seeds are
    # vec_id < 8 — all rep-0 vectors — so clusters are GLOBAL across
    # replicas and cross-replica same-cluster pairs are legitimately in
    # scope. The sf10 truth is therefore not factor x shifted sf0.1 truth
    # in any column. Closed instead by making the oracle itself
    # sf10-feasible: hash-join the pair scan on the cluster key with a
    # MATERIALIZED sig+cluster frame (~150 s at 200k vectors vs >900 s for
    # the r17 inequality-join form).
}


def replica_proof(name, dump_dir, oracle_sql, proof_src, cache_dir):
    """Prove a big-sf Spark dump equals factor × shifted small-sf truth.

    Returns a result row for the CORRECTNESS artifact. Multiset equality
    (EXCEPT ALL both directions) over the normalized dump vs the truth
    crossed with every replica id, plus a cross-replica guard.
    """
    spec = PROOF_SPEC[name]
    con2 = duckdb.connect()  # fresh: small-sf views + the heavy truth run
    for t in TABLES:
        p = os.path.join(proof_src, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con2.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    stride = con2.execute(
        "SELECT max(doc_id) + 1 FROM documents").fetchone()[0]
    os.makedirs(cache_dir, exist_ok=True)
    truth_path = os.path.join(cache_dir, f"{name}.parquet")
    if not os.path.exists(truth_path):
        print(f"[proof    ] {name}: computing small-sf truth (all-pairs, "
              f"cached to {truth_path})...")
        # write-then-rename: COPY creates its target immediately, so an
        # interrupted truth run must not leave a short parquet that later
        # sweeps silently trust
        con2.execute(
            f"COPY ({oracle_sql}) TO '{truth_path}.tmp' (FORMAT PARQUET)")
        os.replace(f"{truth_path}.tmp", truth_path)
    dump = f"read_parquet('{dump_dir}/*.parquet')"
    big_rows, big_max = con2.execute(
        f"SELECT count(*), max({spec['shift'][0]}) FROM {dump}").fetchone()
    factor = int(big_max // stride) + 1
    lead = spec["shift"][0]
    cross = con2.execute(
        f"SELECT count(*) FROM {dump} WHERE " + " OR ".join(
            f"{c} // {stride} <> {lead} // {stride}"
            for c in spec["shift"][1:])).fetchone()[0] \
        if len(spec["shift"]) > 1 else 0
    norm_cols = ", ".join(
        [f"{lead} // {stride} AS rep"] +
        [f"{c} % {stride} AS {c}" for c in spec["shift"]] + spec["keep"])
    exp_cols = ", ".join(
        ["r.rep"] + [f"t.{c}" for c in spec["shift"] + spec["keep"]])
    setup = (f"WITH norm AS (SELECT {norm_cols} FROM {dump}), "
             f"expected AS (SELECT {exp_cols} "
             f"FROM read_parquet('{truth_path}') t "
             f"CROSS JOIN (SELECT unnest(range({factor})) AS rep) r) ")
    missing = con2.execute(setup + "SELECT count(*) FROM "
        "(SELECT * FROM expected EXCEPT ALL SELECT * FROM norm)").fetchone()[0]
    extra = con2.execute(setup + "SELECT count(*) FROM "
        "(SELECT * FROM norm EXCEPT ALL SELECT * FROM expected)").fetchone()[0]
    truth_rows = con2.execute(
        f"SELECT count(*) FROM read_parquet('{truth_path}')").fetchone()[0]
    ok = cross == 0 and missing == 0 and extra == 0 \
        and big_rows == factor * truth_rows
    tag = "PASS" if ok else "FAIL"
    print(f"[{tag}-proof] {name}: {big_rows} rows = {factor} × {truth_rows} "
          f"shifted (cross={cross} missing={missing} extra={extra})")
    return {"rows": big_rows, "method": "replica_structure_proof",
            "match": bool(ok), "factor": factor, "stride": stride,
            "truth_rows": truth_rows, "cross_replica_rows": cross,
            "missing": missing, "extra": extra,
            "reason": "all-pairs oracle is DuckDB-infeasible at this scale; "
                      "proven instead by generator structure: output must "
                      "equal factor id-shifted copies of the independently "
                      "computed small-sf DuckDB truth (complete check — "
                      "pair sets, Jaccard doubles, and cross-replica "
                      "absence)"}


def run_with_timeout(con, sql, timeout):
    """Execute sql; on a timeout interrupt the connection and raise."""
    if not timeout:
        return con.execute(sql).df()
    import threading
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).df()
    finally:
        timer.cancel()


def run_with_timeout_arrow(con, sql, timeout):
    """Like run_with_timeout, but preserves DECIMAL via Arrow→pandas."""
    if not timeout:
        return con.execute(sql).arrow().to_pandas()
    import threading
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).arrow().to_pandas()
    finally:
        timer.cancel()


def main(sf_dir, out_dir, timeout=None, json_out=None, memory_limit=None,
         temp_dir=None, only=None, replica_proof_set=None, proof_src=None,
         proof_cache=None):
    con = duckdb.connect()
    if memory_limit:
        con.execute(f"SET memory_limit='{memory_limit}'")
    if temp_dir:
        d, _, cap = temp_dir.partition(":")
        os.makedirs(d, exist_ok=True)
        con.execute(f"SET temp_directory='{d}'")
        if cap:
            con.execute(f"SET max_temp_directory_size='{cap}'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):  # Spark-written table dir (sf1 rehearsal data)
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    results = {}
    n_pass = n_fail = n_timeout = 0
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        if only and name not in only:
            continue
        if replica_proof_set and name in replica_proof_set:
            if name not in PROOF_SPEC:
                raise SystemExit(f"--replica-proof {name}: no PROOF_SPEC "
                                 "entry (the structural argument must be "
                                 "written down before the check can claim it)")
            results[name] = replica_proof(
                name, d, oracle[name],
                proof_src or "/root/testdata/sf0.1",
                proof_cache or "target/proof_truth")
            if results[name]["match"]:
                n_pass += 1
            else:
                n_fail += 1
            continue
        spark_df = con.execute(
            f"SELECT * FROM read_parquet('{d}/*.parquet')").df()
        if name not in oracle:
            print(f"[rows-only] {name}: {len(spark_df)} rows")
            results[name] = {
                "rows": len(spark_df), "method": "rows_only", "match": None,
                "reason": "no SQL-expressible oracle (documented sketch; "
                          "see the exact hash-checked twin query)"}
            continue
        try:
            duck_df = run_with_timeout(con, oracle[name], timeout)
        except duckdb.InterruptException:
            print(f"[infeasible] {name}: oracle exceeded {timeout}s in "
                  f"DuckDB (skipped, not failed)")
            results[name] = {
                "rows": len(spark_df), "method": "oracle_infeasible",
                "match": None, "timeout_s": timeout,
                "reason": f"DuckDB oracle exceeded the {timeout}s budget "
                          "at this scale; value-checked at smaller sf"}
            n_timeout += 1
            continue
        except Exception as e:
            msg = str(e)
            if "INTERRUPT" in msg.upper():
                print(f"[infeasible] {name}: oracle exceeded {timeout}s in "
                      f"DuckDB (skipped, not failed)")
                results[name] = {
                    "rows": len(spark_df), "method": "oracle_infeasible",
                    "match": None, "timeout_s": timeout,
                    "reason": f"DuckDB oracle exceeded the {timeout}s "
                              "budget at this scale; value-checked at "
                              "smaller sf"}
                n_timeout += 1
                continue
            low = msg.lower()
            if ("no space left" in low or "out of memory" in low
                    or "max_temp_directory_size" in low):
                print(f"[infeasible] {name}: oracle exhausted resources in "
                      f"DuckDB (skipped, not failed): {msg.splitlines()[0][:120]}")
                results[name] = {
                    "rows": len(spark_df), "method": "oracle_infeasible",
                    "match": None,
                    "reason": "DuckDB oracle exhausted memory/temp-disk at "
                              "this scale; value-checked at smaller sf: "
                              + msg.splitlines()[0][:160]}
                n_timeout += 1
                continue
            print(f"[FAIL-sql ] {name}: {e}")
            results[name] = {"rows": len(spark_df), "method": "duckdb",
                             "match": False, "error": msg[:200]}
            n_fail += 1
            continue
        # Type gate: DESCRIBE both sides in DuckDB; any declared-type drift
        # (HUGEINT/DECIMAL widening above all) is a hard failure even when the
        # pandas-normalized values match.
        try:
            o_types = described_types(con, oracle[name])
            s_types = described_types(
                con, f"SELECT * FROM read_parquet('{d}/*.parquet')")
            type_drift = {
                c: (s_types.get(c), o_types.get(c))
                for c in sorted(set(o_types) | set(s_types))
                if s_types.get(c) != o_types.get(c)}
        except Exception as e:
            type_drift = {"<describe-error>": (None, str(e))}
        if type_drift:
            print(f"[FAIL-type] {name}:")
            for c, (st, ot) in type_drift.items():
                print(f"    col {c}: spark-parquet={st} oracle={ot}")
            results[name] = {"rows": len(spark_df), "method": "duckdb",
                             "match": False,
                             "type_drift": {c: list(v) for c, v
                                            in type_drift.items()}}
            n_fail += 1
            continue
        s = spark_df[sorted(spark_df.columns)]
        o = duck_df[sorted(duck_df.columns)]
        ok_cols = list(s.columns) == list(o.columns)
        ok_shape = s.shape == o.shape
        ok_vals = False
        ok_sorted = False
        if ok_cols and ok_shape:
            try:
                pd.testing.assert_frame_equal(
                    s.reset_index(drop=True), o.reset_index(drop=True),
                    check_dtype=False, check_exact=True)
                ok_vals = True
            except AssertionError:
                pass
            try:
                ss = s.sort_values(by=list(s.columns)).reset_index(drop=True)
                oo = o.sort_values(by=list(o.columns)).reset_index(drop=True)
                pd.testing.assert_frame_equal(ss, oo, check_dtype=False,
                                              check_exact=True)
                ok_sorted = True
            except Exception:
                pass
        # representation gate for decimal outputs: value-equality is not
        # enough (see decimal_repr_drift docstring). duckdb's .df() path
        # silently converts DECIMAL to float64 — the r16 reason this mirror
        # passed m07 while the driver stayed red — so when DESCRIBE shows a
        # DECIMAL column on either side, refetch BOTH sides through Arrow
        # (decimal128 → decimal.Decimal, scale preserved) and require the
        # canonical string renderings to match.
        repr_drift = {}
        if ok_vals and any("DECIMAL" in t.upper() for t in
                           list(o_types.values()) + list(s_types.values())):
            s_a = con.execute(
                f"SELECT * FROM read_parquet('{d}/*.parquet')"
            ).arrow().to_pandas()
            o_a = run_with_timeout_arrow(con, oracle[name], timeout)
            repr_drift = decimal_repr_drift(
                s_a[sorted(s_a.columns)], o_a[sorted(o_a.columns)])
        if repr_drift:
            print(f"[FAIL-repr] {name}: equal decimal values, divergent "
                  f"renderings")
            for c, ex in repr_drift.items():
                print(f"    col {c}: " + "; ".join(ex))
            results[name] = {"rows": len(spark_df), "method": "duckdb",
                             "match": False,
                             "decimal_repr_drift": repr_drift}
            n_fail += 1
            continue
        results[name] = {"rows": len(spark_df), "method": "duckdb",
                         "match": bool(ok_vals)}
        if ok_vals:
            print(f"[PASS     ] {name}: {s.shape}")
            n_pass += 1
        else:
            print(f"[FAIL     ] {name}: cols={ok_cols} shape={ok_shape} "
                  f"spark={s.shape} duck={o.shape} sorted_match={ok_sorted}")
            if ok_cols and ok_shape:
                neq = (s.values != o.values)
                import numpy as np
                rows, cols = np.where(neq)
                for r, c in list(zip(rows, cols))[:5]:
                    print(f"    row {r} col {s.columns[c]}: "
                          f"spark={s.iloc[r, c]!r} duck={o.iloc[r, c]!r}")
            elif ok_cols:
                print(f"    spark cols={list(s.columns)}")
            else:
                print(f"    spark cols={list(s.columns)}\n    duck  cols={list(o.columns)}")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail, {n_timeout} timeout ==")
    # a pass on 0 rows checks the output schema only, not the operator
    empty = sorted(n for n, r in results.items()
                   if r.get("match") is True and r.get("rows") == 0)
    print("[empty-pass] " + " ".join(empty))
    if json_out:
        # a --only run is a SUBSET artifact — record the selection so a
        # targeted re-proof file is self-describing and cannot be mistaken
        # for a full sweep (ADVICE r16)
        payload = {"only": sorted(only), **results} if only else results
        with open(json_out, "w") as f:
            json.dump(payload, f, indent=1)
    return 1 if n_fail else 0


if __name__ == "__main__":
    argv = sys.argv[1:]

    def opt(flag, cast=str):
        if flag in argv:
            i = argv.index(flag)
            v = cast(argv[i + 1])
            del argv[i:i + 2]
            return v
        return None

    timeout = opt("--timeout", float)
    json_out = opt("--json")
    memory_limit = opt("--memory-limit")
    temp_dir = opt("--temp-dir")
    only = opt("--only", lambda s: set(s.split(",")))
    replica_proof_set = opt("--replica-proof", lambda s: set(s.split(",")))
    proof_src = opt("--proof-src")
    proof_cache = opt("--proof-cache")
    sys.exit(main(argv[0], argv[1], timeout, json_out, memory_limit,
                  temp_dir, only, replica_proof_set, proof_src, proof_cache))
