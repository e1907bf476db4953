"""Seeded input generator for the benchmark workloads.

Every table is drawn from one numpy PCG64 stream per (workload, seed) and
written with fixed parquet options, so the same seed gives byte-identical
files. The schemas are the ones the engine reads (``graft.engine.Tables``):
a TPC-H-shaped star (region, nation, customer, part, orders, lineitem) for
the medallion workloads, and ``documents`` + ``embeddings`` for curation.

Layout under ``out``:

- ``nightly``:   ``day1/`` and ``day2/``. Day 2 is the full data set; day 1
  holds out a seeded share of the orders (and their items) of the latest
  order year, so exactly one yearly landing file changes between the days.
  ``warm/`` is a small one-year star for the warm-up.
- ``curation``:  ``corpus/``, documents with seeded near-duplicates and
  clustered embeddings.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated bytes change, so cached inputs are rebuilt.
VERSION = 7

SIZES = {
    "nightly": {"orders": 12000, "customers": 1500, "parts": 1500},
    "curation": {"docs": 150, "vectors": 600},
}
# nightly warm-up input: one order year, so one landing file
WARM = {"orders": 1500, "customers": 300, "parts": 300, "days": 180}
HOLDOUT_SHARE = 0.02
NEAR_DUP_SHARE = 0.1

WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLORS = ["red", "blue", "green", "black", "white", "small", "large", "shiny"]
NOUNS = ["ring", "widget", "bolt", "gear", "panel", "valve", "spring", "hinge"]
TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
# Order dates span 1999-01-01 .. 2001-08-01: three yearly landing files.
EPOCH = np.datetime64("1999-01-01", "D")
DAYS = 943


def _ts(days, epoch=EPOCH):
    """Day offsets from `epoch` as a microsecond timestamp array."""
    return pa.array((epoch + days.astype("timedelta64[D]")).astype("datetime64[us]"),
                    type=pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def star_tables(rng, n_orders, n_customers, n_parts, epoch=EPOCH, days=DAYS):
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_customers)]})
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_parts), pa.int64()),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_parts), rng.integers(0, 8, n_parts))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_parts)],
        "p_type": [TYPES[i] for i in rng.integers(0, 6, n_parts)],
        "p_size": pa.array(rng.integers(1, 51, n_parts), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n_parts) * 0.1, 2)})
    order_days = rng.integers(0, days + 1, n_orders)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customers, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(900.0, 500000.0, n_orders), 2),
        "o_orderdate": _ts(order_days, epoch),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)]})
    lines = rng.integers(1, 8, n_orders)
    n_items = int(lines.sum())
    l_order = np.repeat(np.arange(n_orders), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n_items), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n_items), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_items) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_items).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_items), 2),
        "l_discount": rng.integers(0, 11, n_items) / 100.0,
        "l_tax": rng.integers(0, 9, n_items) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_items)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_items)],
        "l_shipdate": _ts(order_days[l_order] + rng.integers(1, 121, n_items), epoch)})
    return {"region": region, "nation": nation, "customer": customer,
            "part": part, "orders": orders, "lineitem": lineitem}


def corpus_tables(rng, n_docs, n_vectors):
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            # near-duplicate: a copy of an earlier doc with a few token edits
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_vectors)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.5, (n_vectors, 64))).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vectors), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return {"documents": documents, "embeddings": embeddings}


def hold_out(tables, rng):
    """Day-1 view of a star: drop a seeded share of the latest year's orders
    and their items. Returns (day1 tables, held-out order keys, that year)."""
    orders = tables["orders"]
    years = np.array(orders["o_orderdate"].to_numpy(), dtype="datetime64[Y]").astype(int) + 1970
    last = int(years.max())
    candidates = np.flatnonzero(years == last)
    k = max(1, int(round(len(candidates) * HOLDOUT_SHARE * (len(years) / len(candidates)))))
    k = min(k, len(candidates) - 1)
    held = np.sort(rng.choice(candidates, size=k, replace=False))
    keep_o = ~np.isin(orders["o_orderkey"].to_numpy(), held)
    keep_l = ~np.isin(tables["lineitem"]["l_orderkey"].to_numpy(), held)
    day1 = dict(tables)
    day1["orders"] = orders.filter(pa.array(keep_o))
    day1["lineitem"] = tables["lineitem"].filter(pa.array(keep_l))
    return day1, held, last


def _write_set(tables, d):
    os.makedirs(d, exist_ok=True)
    stats = {}
    for name, t in tables.items():
        p = os.path.join(d, f"{name}.parquet")
        _write(t, p)
        stats[name] = {"rows": t.num_rows, "bytes": os.path.getsize(p)}
    return stats


def generate(workload, seed, out):
    """Write the workload's inputs under ``out``; return a description of
    what was written (tables, rows and bytes per directory, plus what the
    correctness checks need to know about the data)."""
    rng = np.random.Generator(np.random.PCG64([seed, VERSION, len(workload)]))
    meta = {"workload": workload, "seed": seed, "version": VERSION, "sets": {}}
    s = SIZES[workload]
    if workload == "curation":
        meta["sets"]["corpus"] = _write_set(
            corpus_tables(rng, s["docs"], s["vectors"]), os.path.join(out, "corpus"))
    elif workload == "nightly":
        full = star_tables(rng, s["orders"], s["customers"], s["parts"])
        day1, held, year = hold_out(full, rng)
        meta["sets"]["day1"] = _write_set(day1, os.path.join(out, "day1"))
        meta["sets"]["day2"] = _write_set(full, os.path.join(out, "day2"))
        meta["held_out_orders"] = int(len(held))
        meta["changed_year"] = year
        warm = star_tables(rng, WARM["orders"], WARM["customers"], WARM["parts"],
                           epoch=np.datetime64("2001-01-01", "D"), days=WARM["days"])
        meta["sets"]["warm"] = _write_set(warm, os.path.join(out, "warm"))
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


def ensure(workload, seed, root):
    """Generate into ``root/<workload>-<seed>-v<VERSION>`` unless a complete
    copy is already there; return (dir, description)."""
    out = os.path.join(root, f"{workload}-{seed}-v{VERSION}")
    done = os.path.join(out, "inputs.json")
    if not os.path.exists(done):
        tmp = out + ".tmp"
        if os.path.exists(tmp):
            import shutil
            shutil.rmtree(tmp)
        generate(workload, seed, tmp)
        os.replace(tmp, out)
    with open(done) as f:
        return out, json.load(f)


if __name__ == "__main__":
    import sys
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), indent=1))
