"""Metrics from the driver's raw record: spans, jobs, stages, block marks.

Pure functions over plain data, so they can be tested without a JVM.

End-to-end metrics come from untraced runs; per-layer metrics from the traced
passes of a traced run (its passes alternate untraced, traced, untraced, and
the difference is the tracing overhead).
"""
import math
import re
import statistics

# Wall time of a pass moves with the CPU the host steals from the VM (its
# ten-seed spread reached 0.24 here), so the end-to-end cost of a pass is
# its CPU time; its wall time is the per-layer `pass.wall_s`.
END_TO_END = [
    ("setup_s", "s"),
    ("pass_cpu_s", "s"),
]

ANALYTICS = ["a01_kpis", "a02_top_categories", "a03_orders_by_state",
             "a04_shipping_time_by_state", "a05_avg_freight_by_state", "a06_monthly_trend",
             "a07_weekday_seasonality", "a08_kpis_filtered"]
# must match Driver.curationOps
CURATION_GROUPS = {
    "dedup": ["o21_simhash_neardup", "o22_minhash_lsh_jaccard", "o53_ngram_prefix_jaccard",
              "o54_dedup_components"],
    "text": ["o25_quality_score", "o62_dup_ngram_stats", "o71_doc_chunks"],
    "similarity": ["o23_knn_cosine", "x01_ann_ivf", "x08_frame_sample"],
}
GROUP_METRICS = [("jobs", "count"), ("shuffle_bytes", "B"), ("spill_bytes", "B"),
                 ("materialized_bytes", "B"), ("retained_bytes", "B")]


def per_layer_names():
    """Every per-layer metric as (name, unit), in report order."""
    out = [("pass.wall_s", "s"),
           ("pipeline_s", "s"), ("nightly_delta_s", "s"), ("pipeline.uncovered_s", "s"),
           ("landing.wall_s", "s"), ("landing.jobs", "count"), ("landing.tasks", "count"),
           ("landing.shuffle_bytes", "B"), ("landing.bytes_written", "B"),
           ("landing.files_written", "count"),
           ("incremental.cold.wall_s", "s"), ("incremental.delta.wall_s", "s"),
           ("incremental.jobs", "count"), ("incremental.files_ok", "count"),
           ("incremental.files_skipped", "count"), ("incremental.rows_inserted", "count"),
           ("incremental.bytes_written", "B"), ("incremental.reprocess_ratio", "ratio"),
           ("quality.busy_s", "s"), ("quality.jobs", "count"), ("quality.input_bytes", "B"),
           ("gold.wall_s", "s"), ("gold.busy_s", "s"), ("gold.jobs", "count"),
           ("gold.shuffle_bytes", "B"), ("gold.spill_bytes", "B"), ("gold.bytes_written", "B"),
           ("gold.files_written", "count"), ("gold.cache_peak_bytes", "B")]
    for q in ANALYTICS:
        short = q[:3]
        out += [(f"analytics.{short}.build_ms", "ms"), (f"analytics.{short}.exec_ms", "ms")]
    out += [("analytics.jobs_per_query", "count"), ("analytics.tasks_per_query", "count"),
            ("analytics.files_read_per_query", "count"), ("analytics.driver_share", "ratio"),
            ("sql.build_ms", "ms"), ("sql.exec_ms", "ms"), ("sql.jobs_per_query", "count"),
            ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
            ("spark.task_wait_ms", "ms"), ("spark.gc_ms", "ms"), ("spark.executor_cpu_s", "s")]
    for group, ops in CURATION_GROUPS.items():
        out += [(f"curation.{op[:3]}.wall_s", "s") for op in ops]
    for group in CURATION_GROUPS:
        out += [(f"curation.{group}.{m}", u) for m, u in GROUP_METRICS]
    out += [("ops.count", "count"), ("ops.p50_ms", "ms"), ("ops.geomean_ms", "ms"),
            ("ops.tail_pct", "%"), ("ops.tail_ms", "ms"),
            ("setup.session_s", "s"), ("setup.warmup_s", "s"), ("trace.overhead_pct", "%")]
    return out


# ---- statistics ------------------------------------------------------------

def percentile(values, p):
    """Linear-interpolated percentile (p in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n, beyond=10):
    """The highest whole percentile that still has at least `beyond` of `n`
    samples above it, or None when there are too few samples for any."""
    if n <= beyond:
        return None
    return min(99, math.floor(100.0 * (n - beyond) / n))


# ---- spans -------------------------------------------------------------------

def union_ms(intervals, lo=None, hi=None):
    """Total length of the union of (start, end) intervals, clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of it that its
    children cover (children that overlap each other are counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_ms([(c["start"], c["end"]) for c in kids.get(s["id"], [])],
                           s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# ---- stages ------------------------------------------------------------------

FRAME = re.compile(r"\b(graft\.[\w.$]+?)\$?\.([\w$]+)\(")


def attribute(details):
    """The engine module a stage belongs to: the first `graft.*` frame of its
    call site, as the class's simple name (`Landing`, `Quality`, ...); None
    when no engine frame is present."""
    for line in (details or "").splitlines():
        m = FRAME.search(line)
        if m:
            cls = m.group(1).split("$")[0]
            return cls.rsplit(".", 1)[-1]
    return None


def job_spans(data):
    """Map job id -> span id. A job names the span that was current on its
    thread when it started; if that span's window does not hold the job
    (threads from a pool can carry a stale value), the innermost span that
    does hold it is used instead."""
    spans = data["spans"]
    by_id = {s["id"]: s for s in spans}
    ops = sorted((s for s in spans if s["kind"] in ("op", "build", "exec")),
                 key=lambda s: s["end"] - s["start"])
    out = {}
    for j in data["jobs"]:
        t = j["submit"]
        s = by_id.get(j["span"])
        if s is not None and s["start"] - 1 <= t <= s["end"] + 1:
            out[j["id"]] = s["id"]
            continue
        for s in ops:
            if s["start"] - 1 <= t <= s["end"] + 1:
                out[j["id"]] = s["id"]
                break
    return out


def stage_modules(data):
    """Map (stage id, attempt) -> engine module. Stages that adaptive
    execution submits from its own threads have no engine frame; they take
    the module of another stage of the same SQL execution that has one."""
    s2j = stage_jobs(data)
    execution = {j["id"]: j.get("execution", -1) for j in data["jobs"]}
    own = {(s["id"], s["attempt"]): attribute(s["details"]) for s in data["stages"]}
    by_exec = {}
    for s in sorted(data["stages"], key=lambda s: s["id"]):
        m = own[(s["id"], s["attempt"])]
        e = execution.get(s2j.get(s["id"]), -1)
        if m is not None and e >= 0:
            by_exec.setdefault(e, m)
    out = {}
    for s in data["stages"]:
        key = (s["id"], s["attempt"])
        e = execution.get(s2j.get(s["id"]), -1)
        out[key] = own[key] if own[key] is not None else by_exec.get(e)
    return out


def stage_jobs(data):
    out = {}
    for j in data["jobs"]:
        for sid in j["stages"]:
            out.setdefault(sid, j["id"])
    return out


# ---- reports -----------------------------------------------------------------

def _passes(data, traced):
    return [p for p in data["passes"] if p["traced"] == traced]


def _ops(data, pass_ids):
    return [s for s in data["spans"]
            if s["kind"] == "op" and s["pass"] in pass_ids and s["error"] is None]


def end_to_end(data):
    return {
        "setup_s": statistics.median(data["setup_s"]),
        "pass_cpu_s": statistics.median(p["cpu_s"] for p in _passes(data, False)),
    }


def per_layer(data):
    names = per_layer_names()
    v = {n: 0.0 for n, _ in names}
    spans = data["spans"]
    by_id = {s["id"]: s for s in spans}
    traced = _passes(data, True)
    untraced = _passes(data, False)
    tids = {p["i"] for p in traced}
    npass = max(1, len(traced))
    stages = data["stages"]
    s2j = stage_jobs(data)
    j2s = job_spans(data)

    def op_of(span_id):
        """The innermost enclosing span of kind op."""
        s = by_id.get(span_id)
        while s is not None and s["kind"] != "op":
            s = by_id.get(s["parent"])
        return s

    stage_op = {}
    for st in stages:
        j = s2j.get(st["id"])
        sp = j2s.get(j) if j is not None else None
        stage_op[(st["id"], st["attempt"])] = op_of(sp) if sp is not None else None
    job_op = {jid: op_of(sp) for jid, sp in j2s.items()}
    module = stage_modules(data)

    def stages_of(pred, skip_quality=True):
        out = []
        for st in stages:
            o = stage_op[(st["id"], st["attempt"])]
            if o is None or not pred(o):
                continue
            if skip_quality and module[(st["id"], st["attempt"])] == "Quality":
                continue
            out.append(st)
        return out

    def jobs_of(pred):
        return [jid for jid, o in job_op.items() if o is not None and pred(o)]

    in_pass = lambda o: o["pass"] in tids  # noqa: E731

    v["pass.wall_s"] = statistics.median((p["end"] - p["start"]) / 1000.0 for p in traced)

    # windows of the nightly chain; the pipeline's self time is the part of
    # its window that no layer call covers
    own = self_times(spans)
    for name, key in (("pipeline", "pipeline_s"), ("delta", "nightly_delta_s")):
        ws = [s for s in spans if s["name"] == name and s["kind"] == "window" and s["pass"] in tids]
        v[key] = sum(s["end"] - s["start"] for s in ws) / 1000.0 / npass
        if name == "pipeline":
            v["pipeline.uncovered_s"] = sum(own[w["id"]] for w in ws) / 1000.0 / npass

    # landing / incremental
    land = lambda o: in_pass(o) and o["name"].startswith("landing.")  # noqa: E731
    v["landing.wall_s"] = sum(o["end"] - o["start"] for o in _ops(data, tids)
                              if o["name"].startswith("landing.")) / 1000.0 / npass
    ls = stages_of(land)
    v["landing.jobs"] = len(jobs_of(land)) / npass
    v["landing.tasks"] = sum(s["tasks"] for s in ls) / npass
    v["landing.shuffle_bytes"] = sum(s["shuffle_write"] for s in ls) / npass
    for o in _ops(data, tids):
        if o["name"] == "incremental.cold":
            v["incremental.cold.wall_s"] += (o["end"] - o["start"]) / 1000.0 / npass
        elif o["name"] == "incremental.delta":
            v["incremental.delta.wall_s"] += (o["end"] - o["start"]) / 1000.0 / npass
    inc = lambda o: in_pass(o) and o["name"].startswith("incremental.")  # noqa: E731
    v["incremental.jobs"] = len(jobs_of(inc)) / npass
    for d in data.get("extra", {}).get("layer_dirs", []):
        if d["pass"] not in tids:
            continue
        v["landing.bytes_written"] += (d["landing"]["bytes"] + d["landing_day2"]["bytes"]) / npass
        v["landing.files_written"] += (d["landing"]["files"] + d["landing_day2"]["files"]) / npass
        grow = (d["bronze_after_cold"]["bytes"] - d["bronze_before_cold"]["bytes"]
                + d["bronze_after_delta"]["bytes"] - d["bronze_before_delta"]["bytes"])
        v["incremental.bytes_written"] += grow / npass
        v["gold.bytes_written"] += d["gold"]["bytes"] / npass
        v["gold.files_written"] += d["gold"]["files"] / npass
    runs = data.get("checks", {})
    if isinstance(runs, dict) and "run_cold" in runs:
        # the last pass's tech log stands for every pass: the inputs are fixed
        logs = runs["run_cold"] + runs["run_delta"]
        v["incremental.files_ok"] = sum(1 for e in logs if e["status"] == "OK")
        v["incremental.files_skipped"] = sum(1 for e in logs if e["status"] == "SKIP")
        v["incremental.rows_inserted"] = sum(e["rows_orders"] + e["rows_items"] for e in logs
                                             if e["status"] == "OK")
        fp1 = {m["file"]: m["fingerprint"] for m in runs["manifest_day1"]}
        changed = [m["file"] for m in runs["manifest_day2"] if fp1.get(m["file"]) != m["fingerprint"]]
        redone = [e for e in runs["run_delta"] if e["status"] == "OK"]
        v["incremental.reprocess_ratio"] = len(redone) / len(changed) if changed else 0.0

    # quality: every stage whose first engine frame is Quality, in any traced op
    qs = [st for st in stages if module[(st["id"], st["attempt"])] == "Quality"
          and stage_op[(st["id"], st["attempt"])] is not None]
    v["quality.busy_s"] = sum(s["run_ms"] for s in qs) / 1000.0 / npass
    v["quality.jobs"] = len({s2j.get(s["id"]) for s in qs}) / npass
    v["quality.input_bytes"] = sum(s["input_bytes"] for s in qs) / npass

    # gold
    marks = {(m["span"], m["edge"]): m for m in data["block_marks"]}
    gold_ids = {o["id"] for o in _ops(data, tids) if o["name"] == "gold.ensure"}
    is_gold = lambda o: o["id"] in gold_ids  # noqa: E731
    gs = stages_of(is_gold)
    v["gold.wall_s"] = sum(by_id[g]["end"] - by_id[g]["start"] for g in gold_ids) / 1000.0 / npass
    v["gold.busy_s"] = sum(s["run_ms"] for s in gs) / 1000.0 / npass
    v["gold.jobs"] = len(jobs_of(is_gold)) / npass
    v["gold.shuffle_bytes"] = sum(s["shuffle_write"] for s in gs) / npass
    v["gold.spill_bytes"] = sum(s["spill_mem"] + s["spill_disk"] for s in gs) / npass
    peaks = [marks[(g, "end")]["peak"] - marks[(g, "start")]["stored"] for g in gold_ids
             if (g, "end") in marks and (g, "start") in marks]
    v["gold.cache_peak_bytes"] = max(peaks) if peaks else 0.0

    # analytics and sql: per query, from traced passes
    qops = [o for o in _ops(data, tids) if o["name"].startswith(("analytics.", "sql."))]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def phase(o, kind):
        return sum(c["end"] - c["start"] for c in kids.get(o["id"], []) if c["kind"] == kind)

    for q in ANALYTICS:
        mine = [o for o in qops if o["name"] == f"analytics.{q}"]
        if mine:
            v[f"analytics.{q[:3]}.build_ms"] = statistics.median(phase(o, "build") for o in mine)
            v[f"analytics.{q[:3]}.exec_ms"] = statistics.median(phase(o, "exec") for o in mine)
    aq = [o for o in qops if o["name"].startswith("analytics.")]
    sq = [o for o in qops if o["name"].startswith("sql.")]
    aq_ids = {o["id"] for o in aq}
    if aq:
        a_jobs = jobs_of(lambda o: o["id"] in aq_ids)
        a_stages = stages_of(lambda o: o["id"] in aq_ids, skip_quality=False)
        v["analytics.jobs_per_query"] = len(a_jobs) / len(aq)
        v["analytics.tasks_per_query"] = sum(s["tasks"] for s in a_stages) / len(aq)
        wall = sum(o["end"] - o["start"] for o in aq)
        busy = sum(s["run_ms"] for s in a_stages)
        cores = int(data["host"]["cores"])
        v["analytics.driver_share"] = 1.0 - busy / (wall * cores) if wall else 0.0
        reads = [f["files"] for f in data.get("extra", {}).get("files_read", [])
                 if f["kind"] == "analytics"]
        v["analytics.files_read_per_query"] = statistics.mean(reads) if reads else 0.0
    if sq:
        sq_ids = {o["id"] for o in sq}
        v["sql.build_ms"] = statistics.median(phase(o, "build") for o in sq)
        v["sql.exec_ms"] = statistics.median(phase(o, "exec") for o in sq)
        v["sql.jobs_per_query"] = len(jobs_of(lambda o: o["id"] in sq_ids)) / len(sq)

    # scheduler / JVM, per traced pass
    ps = stages_of(in_pass, skip_quality=False)
    v["spark.jobs"] = len(jobs_of(in_pass)) / npass
    v["spark.stages"] = len(ps) / npass
    v["spark.tasks"] = sum(s["tasks"] for s in ps) / npass
    v["spark.task_wait_ms"] = sum(max(0, s["first_launch"] - s["submit"]) for s in ps
                                  if s["first_launch"] >= 0 and s["submit"] >= 0) / npass
    v["spark.gc_ms"] = sum(s["gc_ms"] for s in ps) / npass
    v["spark.executor_cpu_s"] = sum(s["cpu_ns"] for s in ps) / 1e9 / npass

    # curation: per op and per module group
    for group, names_ in CURATION_GROUPS.items():
        g_ops = [o for o in _ops(data, tids) if o["name"].split(".", 1)[-1] in names_]
        for op in names_:
            mine = [o["end"] - o["start"] for o in g_ops if o["name"] == f"curation.{op}"]
            if mine:
                v[f"curation.{op[:3]}.wall_s"] = statistics.median(mine) / 1000.0
        if not g_ops:
            continue
        ids = {o["id"] for o in g_ops}
        gst = stages_of(lambda o: o["id"] in ids, skip_quality=False)
        v[f"curation.{group}.jobs"] = len(jobs_of(lambda o: o["id"] in ids)) / npass
        v[f"curation.{group}.shuffle_bytes"] = sum(s["shuffle_write"] for s in gst) / npass
        v[f"curation.{group}.spill_bytes"] = sum(s["spill_mem"] + s["spill_disk"]
                                                 for s in gst) / npass
        mat = ret = 0
        for o in g_ops:
            a, b = marks.get((o["id"], "start")), marks.get((o["id"], "end"))
            if a and b:
                mat += b["added"] - a["added"]
                ret += max(0, b["stored"] - a["stored"])
        v[f"curation.{group}.materialized_bytes"] = mat / npass
        v[f"curation.{group}.retained_bytes"] = ret / npass

    # operation tail by the percentile rule, over every pass of the run
    all_ops = _ops(data, {p["i"] for p in data["passes"]})
    lat = [o["end"] - o["start"] for o in all_ops]
    v["ops.count"] = len(lat)
    v["ops.p50_ms"] = percentile(lat, 50) if lat else 0.0
    # every public call weighs the same, whatever its size
    v["ops.geomean_ms"] = statistics.geometric_mean(lat) if lat else 0.0
    tp = tail_percentile(len(lat))
    if tp is not None:
        v["ops.tail_pct"] = tp
        v["ops.tail_ms"] = percentile(lat, tp)
    v["setup.session_s"] = data["session_start_s"][0]
    v["setup.warmup_s"] = data["warmup_s"]
    if traced and untraced:
        t = statistics.median((p["end"] - p["start"]) for p in traced)
        u = statistics.median((p["end"] - p["start"]) for p in untraced)
        v["trace.overhead_pct"] = 100.0 * (t - u) / u
    return v


def report(data, trace):
    """The metrics object of the result line."""
    if trace:
        units = dict(per_layer_names())
        return {n: {"value": x, "unit": units[n]} for n, x in per_layer(data).items()}
    units = dict(END_TO_END)
    return {n: {"value": x, "unit": units[n]} for n, x in end_to_end(data).items()}
