#!/usr/bin/env python3
"""graft batch benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload match --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from the checkout (once per source
state), derives the workload's input from the sf0.1 fixtures and the
seed, runs the harness at local[nproc], checks every query result
against DuckDB, and prints one JSON line last on stdout:
{"correct", "attempted", "failed", "metrics"}. --trace 0 gives the
end-to-end metrics, --trace 1 the per-layer metrics. The full record of
the run (per-query times, failure causes, row counts, the effective
Spark conf, spans) is written under .bench_build/perfbench/runs/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
# the sf0.1 fixtures (TESTDATA.md); only read
SOURCE = os.path.expanduser("~/testdata/sf0.1")
HARNESS_DEADLINE_S = 165

sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402


def q(*ids):
    return [f"q{i:02d}" for i in ids]


# Each workload: its queries (by number), its input sizes (fractions of
# the sf0.1 tables, see gen.py) and the layer probes its traced runs make
# (Probes.scala). Every query's traced time is a per-layer metric. The
# query lists are cut to fit the benchmark's time budget (README.md):
# most of a first pass is fixed Spark work, memo builds, codegen and
# JIT, whatever the input size.
WORKLOADS = {
    # the paper's pipeline on the Shared match chain: candidates →
    # scores → pivot → weight grid → total score → dedup, over 30 parts
    # of 10 line items each.
    "match": {
        "queries": q(13, 14, 19, 20, 43, 44),
        "sizes": {"lineitem": 0.0015, "events": 0.01, "documents": 0.1,
                  "embeddings": 0.25},
        "probes": ["tables", "operators.match", "streaming"],
    },
    # text dedup and vector search: the native text and vector
    # functions, MinHash/SimHash families, CC rounds, the vector memo
    # build (q74 is the one vector-group query, so warmGroup builds the
    # vector families) and an ANN leg; never the match chain
    "corpus": {
        "queries": q(25, 26, 27, 36, 55, 70, 74),
        "sizes": {"lineitem": 0.0015, "events": 0.01, "documents": 0.1,
                  "embeddings": 0.25},
        "probes": ["tables", "functions", "operators.corpus", "shared"],
    },
}

# Streaming queries the "streaming" probe drains once: the source of the
# streaming.* metrics.
STREAM_PROBES = q(35)


def layer_queries(full):
    """{per-layer metric name: query name} for every workload query."""
    return {f"query.{n}_s": full[n] for w in WORKLOADS.values() for n in w["queries"]}


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def query_names():
    """Full query names (qNN_<operator>) from the engine's sources."""
    names = {}
    src = os.path.join(ROOT, "src", "main", "scala", "graft", "queries")
    for f in sorted(os.listdir(src)):
        with open(os.path.join(src, f)) as fh:
            for m in re.finditer(r'"(q(\d+)_[a-z0-9_]+)"\s*->', fh.read()):
                names[f"q{int(m.group(2)):02d}"] = m.group(1)
    return names


def cpus():
    return len(os.sched_getaffinity(0))


def heap_size():
    """The tier-1 heap rule: half of RAM in GiB, clamped to 2..8."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "harness")]
    files = [os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target" and not
                       (x == "project" and os.path.basename(d) == "project")]
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in sorted(set(files)):
        with open(f, "rb") as fh:
            h.update(f.encode() + b"\0" + fh.read() + b"\0")
    return h.hexdigest()


def build():
    """Compile the engine and harness when their sources changed; return
    the harness's runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine source to build: {need} is missing")
    stamp = source_stamp()
    state = os.path.join(WORK, "build.json")
    if os.path.exists(state):
        with open(state) as f:
            have = json.load(f)
        if have["stamp"] == stamp:
            return have["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    classpath = r.stdout.strip().splitlines()[-1]
    os.makedirs(WORK, exist_ok=True)
    with open(state, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def run_harness(classpath, data, queries, probes, full, trace, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    out = os.path.join(run_dir, "harness.json")
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # no hsperfdata file under the system temp directory
           + [f"-Xmx{heap_size()}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
              "-cp", classpath, "perfbench.Harness",
              "--data", data, "--queries", ",".join(queries),
              "--trace", str(trace), "--cpus", str(cpus()),
              "--scratch", local, "--results", os.path.join(run_dir, "results"),
              "--probes", ",".join(probes),
              "--stream-probes", ",".join(full[n] for n in STREAM_PROBES),
              "--out", out])
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    env.pop("OMP_NUM_THREADS", None)
    with open(os.path.join(run_dir, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                             stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=HARNESS_DEADLINE_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness passed its {HARNESS_DEADLINE_S} s deadline; log in {run_dir}")
    if code != 0:
        with open(os.path.join(run_dir, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {code}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # a run is one pass, however long: accepted for the common
    # benchmark interface, not used
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    classpath = build()
    full = query_names()
    queries = [full[n] for n in wl["queries"]]
    data = os.path.join(WORK, "data", f"{args.workload}-{args.seed}")
    manifest = gen.generate(SOURCE, data, wl["sizes"], args.seed)

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        rec = run_harness(classpath, data, queries, wl["probes"], full, args.trace,
                          run_dir)
        input_key = json.dumps({k: manifest[k] for k in ("version", "seed", "spec",
                                                         "source")}, sort_keys=True)
        checked, result_rows = oracle.check(
            data, input_key, os.path.join(run_dir, "results"),
            rec["oracle_sql"], queries, os.path.join(WORK, "duckdb"))
    finally:
        for d in ("results", "local", "tmp", "warehouse"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    attempted, failed, causes = metrics.failures(rec["pass"])
    mismatches = {k: v for k, v in checked.items() if v is not None}
    unchecked = [n for n in queries if n not in checked]
    if args.trace:
        values, residual = metrics.per_layer(rec, manifest, layer_queries(full))
        self_ok = residual < 1e-6
    else:
        values, residual, self_ok = metrics.end_to_end(rec, checked), None, True

    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "queries": queries, "input": manifest, "harness": rec,
              "oracle": checked, "result_rows": result_rows, "unchecked": unchecked,
              "failures": causes,
              "self_time_residual_s": residual,
              "metrics": {k: v for k, (v, _) in values.items()}}
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(detail, f, indent=1)
    for name, cls, msg in causes:
        print(f"FAILED {name}: {cls}: {msg[:300]}", file=sys.stderr)
    for name, why in mismatches.items():
        print(f"ORACLE MISMATCH {name}: {why}", file=sys.stderr)
    print(f"input rows {json.dumps({t: v['rows'] for t, v in manifest['tables'].items()})}")
    print(f"input bytes {json.dumps({t: v['bytes'] for t, v in manifest['tables'].items()})}")
    print(f"result rows {json.dumps(result_rows)}")
    print(f"detail {os.path.relpath(os.path.join(run_dir, 'result.json'), ROOT)}")
    print(json.dumps({
        "correct": failed == 0 and not mismatches and self_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))


if __name__ == "__main__":
    main()
