"""Metric arithmetic on synthetic harness records: span self times,
failure counting, and the metric-name grammar."""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end}


def pass_rec(start, end, queries, warms=()):
    return {"traced": True, "start": start, "end": end,
            "wall_s": (end - start) / 1e3, "queries": list(queries),
            "warms": list(warms), "policy_s": 0.01, "boundary_gc_s": 0.02,
            "jvm_gc_s": 0.03, "cpu_s": 9.0, "trace_own_s": 0.008, "peak_persisted_bytes": 5_000_000,
            "memo_builds": 1, "releases": 2, "evictions": 0, "memo_reads": 4}


def query(name, seconds, error=None):
    return {"name": name, "seconds": seconds, "error": error}


class SelfTimeTest(unittest.TestCase):
    SPANS = [span(0, -1, "pass", 0.0, 100.0),
             span(1, 0, "shared.warm.match", 0.0, 30.0),
             span(2, 0, "query.a", 30.0, 70.0),
             span(3, 2, "inner", 35.0, 45.0),
             span(4, 2, "inner", 40.0, 50.0),  # overlaps its sibling
             span(5, 0, "shared.policy", 70.0, 75.0)]

    def test_self_time_is_duration_minus_covered_children(self):
        st = metrics.self_times(self.SPANS)
        self.assertEqual(st[0], 100.0 - 75.0)
        self.assertEqual(st[1], 30.0)
        self.assertEqual(st[2], 40.0 - 15.0)  # union of [35,45] and [40,50]
        self.assertEqual(st[3], 10.0)
        self.assertEqual(st[5], 5.0)

    def test_pass_self_times_add_up_to_pass_wall(self):
        spans = [s for s in self.SPANS if s["id"] != 4]
        self.assertAlmostEqual(
            metrics.pass_self_check(spans), 0.0)

    def test_tasks_go_to_deepest_enclosing_span(self):
        tasks = [{"launch": 36.0}, {"launch": 20.0}, {"launch": 200.0}]
        owner = metrics.attribute(tasks, self.SPANS)
        self.assertIn(3, owner)
        self.assertEqual(owner[1], [tasks[1]])
        self.assertEqual(owner[-1], [tasks[2]])


def untraced_record(queries):
    return {"setup_s": 9.0, "pass": pass_rec(0.0, 9000.0, queries),
            "peak_scratch_bytes": 2_000_000, "peak_rss_bytes": 900_000_000}


class FailureTest(unittest.TestCase):
    def test_injected_failure_counts_with_its_cause(self):
        boom = {"class": "org.apache.spark.sql.AnalysisException",
                "message": "[PATH_NOT_FOUND] Path does not exist"}
        rec = untraced_record([query("q1", 1.0), query("q2", 2.0, boom)])
        attempted, failed, causes = metrics.failures(rec["pass"])
        self.assertEqual((attempted, failed), (2, 1))
        self.assertEqual(causes, [("q2", boom["class"], boom["message"])])
        m = metrics.end_to_end(rec, {"q1": None, "q2": "no spark output"})
        self.assertEqual(m["ok_frac"][0], 0.5)
        self.assertEqual(m["oracle_agree_frac"][0], 0.5)


def traced_record():
    q = [query("q13_entity_candidates", 1.0)]
    first = pass_rec(1000.0, 9000.0, q, [{"group": "match", "seconds": 5.0}])
    spans = [span(0, -1, "setup", 0.0, 900.0),
             span(1, 0, "tables.open.lineitem", 100.0, 300.0),
             span(2, -1, "run", 1000.0, 30000.0),
             span(3, 2, "pass", 1000.0, 9000.0),
             span(4, 3, "shared.warm.match", 1000.0, 6000.0),
             span(5, 3, "query.q13_entity_candidates", 6000.0, 7000.0),
             span(6, 2, "probes", 22000.0, 29000.0),
             span(7, 6, "tables.scan.lineitem", 22000.0, 22100.0),
             span(8, 6, "functions.tokens", 22100.0, 22200.0),
             span(9, 6, "streaming.q35_stream_windows", 23000.0, 25000.0)]
    task = {"launch": 6500, "finish": 6700, "failed": False, "run_ms": 150,
            "gc_ms": 0, "input_bytes": 1000, "input_rows": 10,
            "shuffle_write_bytes": 5, "shuffle_read_bytes": 5, "fetch_wait_ms": 0,
            "spill_disk_bytes": 0}
    scan = dict(task, launch=22050, finish=22060)
    batch = {"at": 24000, "rows": 100, "batch_ms": 500, "state_rows": 7,
             "state_commit_ms": 20}
    return {"setup_s": 9.0, "cpus": 4, "peak_rss_bytes": 900_000_000,
            "peak_scratch_bytes": 2_000_000,
            "pass": first, "spans": spans,
            "listener": {"tasks": [task, scan], "stages": [{"submitted": 6400,
                                                            "completed": 6800}],
                         "batches": [batch]},
            "probe_counts": {"operators.candidate_pairs": 42}}


class NameTest(unittest.TestCase):
    def test_benchmark_names_follow_the_grammar(self):
        names = ([w["name"] for w in BENCH["workloads"]]
                 + [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]])
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, metrics.NAME)

    def test_workloads_match_the_runner(self):
        self.assertEqual(sorted(w["name"] for w in BENCH["workloads"]),
                         sorted(run.WORKLOADS))

    def test_end_to_end_names(self):
        rec = untraced_record([query("q1", 1.0)])
        m = metrics.end_to_end(rec, {"q1": None})
        self.assertEqual(sorted(m), sorted(x["name"] for x in BENCH["end_to_end"]))
        self.assertEqual(m["setup_s"][0], 9.0)
        self.assertEqual(m["first_pass_s"][0], 9.0)
        for x in BENCH["end_to_end"]:
            self.assertEqual(m[x["name"]][1], x["unit"])

    def test_per_layer_names(self):
        m, residual = metrics.per_layer(
            traced_record(), {"tables": {"lineitem": {"rows": 10}}},
            run.layer_queries(run.query_names()))
        self.assertEqual(sorted(m), sorted(x["name"] for x in BENCH["per_layer"]))
        for x in BENCH["per_layer"]:
            self.assertEqual(m[x["name"]][1], x["unit"], x["name"])
        self.assertAlmostEqual(residual, 0.0)
        self.assertEqual(m["streaming.batches"][0], 1.0)
        self.assertEqual(m["spark.tasks"][0], 1.0)
        self.assertEqual(m["tables.input_rows"][0], 10.0)
        self.assertAlmostEqual(m["spark.idle_s"][0], 8.0 - 0.2)
        self.assertAlmostEqual(m["trace.overhead_frac"][0], 0.008 / (8.0 - 0.008))


if __name__ == "__main__":
    unittest.main()
