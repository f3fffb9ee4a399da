"""Metrics of one run, from the harness record.

End-to-end metrics come from an untraced run; per-layer metrics from a
traced one. Span times are fractional epoch milliseconds; Spark task
times are whole epoch milliseconds on the same clock.
"""
import re

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")
GB = 1e9


def union_ms(intervals):
    """Total length of the union of (start, end) intervals."""
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """{span id: self ms}: a span's duration minus the part of its
    interval that its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], [])]
        covered = [(a, b) for a, b in covered if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - union_ms(covered)
    return out


def subtree(spans, root_id):
    """Ids of a span and all its descendants."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = [], [root_id]
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(kids.get(i, []))
    return out


def attribute(tasks, spans):
    """{span id: [task]}: each task goes to the deepest span whose
    interval holds its launch time; tasks outside every span to -1."""
    depth = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        d, p = 0, s["parent"]
        while p != -1:
            d, p = d + 1, by_id[p]["parent"]
        depth[s["id"]] = d
    ordered = sorted(spans, key=lambda s: -depth[s["id"]])
    out = {}
    for t in tasks:
        hit = next((s["id"] for s in ordered
                    if s["start"] <= t["launch"] <= s["end"]), -1)
        out.setdefault(hit, []).append(t)
    return out


def failures(pass_rec):
    """(attempted, failed, [(query, class, message)])."""
    failed = [(q["name"], q["error"]["class"], q["error"]["message"])
              for q in pass_rec["queries"] if q["error"]]
    return len(pass_rec["queries"]), len(failed), failed


def end_to_end(rec, oracle):
    """The end-to-end metrics of an untraced run. `oracle` maps each
    checked query to None (agrees with DuckDB) or the difference."""
    p = rec["pass"]
    attempted, failed, _ = failures(p)
    agree = sum(1 for v in oracle.values() if v is None)
    return {
        "setup_s": (rec["setup_s"], "s"),
        "first_pass_s": (p["wall_s"], "s"),
        "ok_frac": ((attempted - failed) / attempted, "frac"),
        "oracle_agree_frac": (agree / len(oracle) if oracle else 0.0, "frac"),
        "peak_persisted_gb": (p["peak_persisted_bytes"] / GB, "GB"),
    }


FUNCTIONS = ["tokens", "shingle_hashes", "minhash", "simhash", "stem",
             "vector_dot", "l2q"]
OPERATORS = ["candidate_pairs", "score_pairs", "grid_eval", "normalise",
             "minhash_dup_pairs", "cc", "lsh_buckets", "cosine_topk"]


def _in(window, t):
    return window["start"] <= t <= window["end"]


def pass_self_check(spans):
    """Seconds by which the self times of the traced pass span and its
    descendants miss the pass's wall time (0 up to rounding)."""
    root = next(s for s in spans if s["name"] == "pass")
    st = self_times(spans)
    total = sum(st[i] for i in subtree(spans, root["id"]))
    return abs(total - (root["end"] - root["start"])) / 1e3


def per_layer(rec, manifest, query_metrics):
    """The per-layer metrics of a traced run, and the pass self-time
    residual. Layer numbers come from the traced pass, the pass
    `first_pass_s` times, and from the probes; a probe the workload does
    not make reads 0. `query_metrics` maps metric name → query name."""
    first = rec["pass"]
    spans = [s for s in rec["spans"] if s is not None]
    lis = rec["listener"]
    tasks, stages, batches = lis["tasks"], lis["stages"], lis["batches"]
    m = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    def probe_ms(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    # Spark runtime, over the pass
    win = [t for t in tasks if _in(first, t["launch"])]
    run_s = sum(t["run_ms"] for t in win) / 1e3
    put("spark.tasks", len(win), "count")
    put("spark.stages", sum(1 for s in stages if _in(first, s["submitted"])), "count")
    put("spark.task_run_s", run_s, "s")
    put("spark.busy_frac", run_s / (first["wall_s"] * rec["cpus"]), "frac")
    busy = [(t["launch"], min(t["finish"], first["end"])) for t in win]
    put("spark.idle_s", first["wall_s"] - union_ms(busy) / 1e3, "s")
    put("spark.jvm_gc_s", first["jvm_gc_s"], "s")
    put("spark.shuffle_write_gb", sum(t["shuffle_write_bytes"] for t in win) / GB, "GB")
    put("spark.shuffle_read_gb", sum(t["shuffle_read_bytes"] for t in win) / GB, "GB")
    put("spark.shuffle_fetch_wait_s", sum(t["fetch_wait_ms"] for t in win) / 1e3, "s")
    put("spark.spill_disk_gb", sum(t["spill_disk_bytes"] for t in win) / GB, "GB")
    put("pass.cpu_s", first["cpu_s"], "s")
    put("peak_rss_gb", rec["peak_rss_bytes"] / GB, "GB")
    put("peak_scratch_gb", rec["peak_scratch_bytes"] / GB, "GB")

    # Tables
    opens = [s for s in spans if s["name"].startswith("tables.open.")]
    put("tables.open_s", sum(s["end"] - s["start"] for s in opens) / 1e3, "s")
    scans = [s for s in spans if s["name"].startswith("tables.scan.")]
    put("tables.scan_s", sum(s["end"] - s["start"] for s in scans) / 1e3, "s")
    owner = attribute(tasks, spans)
    scan_tasks = [t for s in scans for t in owner.get(s["id"], [])]
    put("tables.input_gb", sum(t["input_bytes"] for t in scan_tasks) / GB, "GB")
    put("tables.input_rows", sum(t["input_rows"] for t in scan_tasks), "count")
    held = sum(t["rows"] for t in manifest["tables"].values())
    put("tables.read_amplification", sum(t["input_rows"] for t in win) / held, "ratio")

    for f in FUNCTIONS:
        put(f"functions.{f}_s", probe_ms(f"functions.{f}") / 1e3, "s")

    # Shared, over the pass
    warm = {w["group"]: w["seconds"] for w in first["warms"]}
    for g in ("match", "text", "vector"):
        put(f"shared.build_s.{g}", warm.get(g, 0.0), "s")
    put("shared.dup_pairs_s", probe_ms("shared.family.dup_pairs") / 1e3, "s")
    put("shared.simhashes_s", probe_ms("shared.family.simhashes") / 1e3, "s")
    put("shared.policy_s", first["policy_s"], "s")
    put("shared.boundary_gc_s", first["boundary_gc_s"], "s")
    put("shared.evictions", first["evictions"], "count")
    put("shared.releases", first["releases"], "count")
    reads = first["memo_reads"]
    hits = max(0, reads - first["memo_builds"])
    put("shared.memo_hit_ratio", hits / reads if reads else 0.0, "ratio")

    for o in OPERATORS:
        put(f"operators.{o}_s", probe_ms(f"operators.{o}") / 1e3, "s")
    put("operators.candidate_pairs",
        rec["probe_counts"].get("operators.candidate_pairs", 0), "count")

    # streaming, over the streaming probes
    drains = [s for s in spans if s["name"].startswith("streaming.")]
    bs = [b for b in batches if any(_in(s, b["at"]) for s in drains)]
    batch_s = sum(b["batch_ms"] for b in bs) / 1e3
    put("streaming.batches", len(bs), "count")
    put("streaming.batch_s", batch_s, "s")
    put("streaming.rows_per_s",
        sum(b["rows"] for b in bs) / batch_s if batch_s else 0.0, "1/s")
    put("streaming.state_rows_peak", max([b["state_rows"] for b in bs], default=0),
        "count")
    put("streaming.state_commit_s", sum(b["state_commit_ms"] for b in bs) / 1e3, "s")

    times = {q["name"]: q["seconds"] for q in first["queries"]}
    for metric, query in query_metrics.items():
        put(metric, times.get(query, 0.0), "s")
    # the tracer's own time in the pass, against the rest of the pass
    own = first["trace_own_s"]
    put("trace.overhead_frac", own / (first["wall_s"] - own), "frac")

    return m, pass_self_check(spans)
