"""Correctness verdict of one run, computed after the timed window.

- Registry outputs (the nightly dashboard refresh, the curation operators)
  are compared with their DuckDB oracle SQL by ``dev/check_oracle.py``, run
  on the generated inputs.
- Nightly invariants: the cold ingest takes every landing file; bronze holds
  every input order and item exactly once; the delta run marks exactly the
  changed landing files OK and all others SKIP; the gold fact has the row
  count of the oracle's fact SQL.
"""
import json
import os
import subprocess
import sys

import duckdb

STAR = ("region", "nation", "customer", "part", "orders", "lineitem")
ORACLE_TIMEOUT_S = 25


def oracle(root, info, work):
    """{query: passed} for every query the driver dumped."""
    out = os.path.join(work, "oracle_result.json")
    cmd = [sys.executable, os.path.join(root, "dev", "check_oracle.py"),
           info["sf_dir"], info["oracle_dump"], "--json", out, "--timeout", str(ORACLE_TIMEOUT_S),
           "--only", ",".join(info["queries"])]
    try:
        proc = subprocess.run(cmd, cwd=work, capture_output=True, text=True,
                              timeout=ORACLE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"[perfbench] oracle check exceeded {ORACLE_TIMEOUT_S} s\n")
        return {q: False for q in info["queries"]}
    found = {}
    if os.path.exists(out):
        with open(out) as f:
            found = json.load(f)
    passed = {q: isinstance(found.get(q), dict) and found[q].get("match") is True
              for q in info["queries"]}
    if not all(passed.values()):
        sys.stderr.write(proc.stdout[-3000:] + proc.stderr[-2000:])
    return passed


def fact_rows(fact_sql, sf_dir):
    con = duckdb.connect()
    for t in STAR:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con.execute(f"SELECT count(*) FROM ({fact_sql})").fetchone()[0]


def nightly(c, described, inputs):
    day1 = described["sets"]["day1"]
    day2 = described["sets"]["day2"]
    cold, delta = c["run_cold"], c["run_delta"]
    fp1 = {m["file"]: m["fingerprint"] for m in c["manifest_day1"]}
    changed = sorted(m["file"] for m in c["manifest_day2"] if fp1.get(m["file"]) != m["fingerprint"])
    order_files = [e for e in cold if e["file"].startswith("orders_")]
    ok_delta = sorted(e["file"] for e in delta if e["status"] == "OK")
    return {
        "cold_ingest_takes_every_file": bool(cold) and all(e["status"] == "OK" for e in cold),
        "cold_ingest_orders": sum(e["rows_orders"] for e in order_files) == day1["orders"]["rows"],
        "cold_ingest_items": sum(e["rows_items"] for e in order_files) == day1["lineitem"]["rows"],
        "day2_changes_one_file": changed == [f"orders_{described['changed_year']}"],
        "delta_ok_exactly_changed": ok_delta == changed,
        "delta_skips_the_rest": all(e["status"] == "SKIP" for e in delta if e["file"] not in changed),
        "delta_inserts_held_out": sum(e["rows_orders"] for e in delta if e["status"] == "OK")
        == described["held_out_orders"],
        "bronze_orders_once": c["bronze_orders"] == c["bronze_distinct_orders"] == day2["orders"]["rows"],
        "bronze_items_once": c["bronze_items"] == c["bronze_distinct_items"] == day2["lineitem"]["rows"],
        "gold_fact_rows": c["gold_fact_rows"] == fact_rows(c["fact_sql"], os.path.join(inputs, "day1")),
    }


def verify(workload, data, described, inputs, root, work):
    """{"correct": bool, "details": {check: bool}}."""
    c = data.get("checks") or {}
    details = {"no_errors": not data["errors"]}
    if "oracle" not in c:
        details["checks_ran"] = False
    else:
        for q, ok in oracle(root, c["oracle"], work).items():
            details[f"oracle.{q}"] = ok
        if workload == "nightly":
            details.update(nightly(c, described, inputs))
    for e in data["errors"]:
        sys.stderr.write(f"[perfbench] {e}\n")
    return {"correct": all(details.values()), "details": details}
