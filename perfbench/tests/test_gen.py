"""Generator determinism: the same seed gives identical bytes, another
seed gives other rows in the same numbers."""
import hashlib
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402
import run  # noqa: E402

SPEC = run.WORKLOADS["match"]["sizes"]


def digests(d):
    out = {}
    for t in gen.TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
            out[t] = hashlib.sha256(f.read()).hexdigest()
    return out


@unittest.skipUnless(os.path.isdir(run.SOURCE), "sf0.1 fixtures not present")
class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.makedirs(run.WORK, exist_ok=True)
        cls.tmp = tempfile.TemporaryDirectory(dir=run.WORK)
        cls.a = gen.generate(run.SOURCE, os.path.join(cls.tmp.name, "a"), SPEC, 7)
        cls.b = gen.generate(run.SOURCE, os.path.join(cls.tmp.name, "b"), SPEC, 7)
        cls.c = gen.generate(run.SOURCE, os.path.join(cls.tmp.name, "c"), SPEC, 8)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def path(self, run_name, table):
        return os.path.join(self.tmp.name, run_name, f"{table}.parquet")

    def test_same_seed_same_bytes(self):
        self.assertEqual(digests(os.path.join(self.tmp.name, "a")),
                         digests(os.path.join(self.tmp.name, "b")))

    def test_other_seed_other_rows_same_counts(self):
        rows = lambda m: {t: v["rows"] for t, v in m["tables"].items()}
        self.assertEqual(rows(self.a), rows(self.c))
        for table, key in (("lineitem", "l_partkey"), ("orders", "o_orderkey"),
                           ("events", "event_id"), ("documents", "doc_id"),
                           ("embeddings", "vec_id")):
            ka = set(pq.read_table(self.path("a", table), columns=[key])[key].to_pylist())
            kc = set(pq.read_table(self.path("c", table), columns=[key])[key].to_pylist())
            self.assertNotEqual(ka, kc, table)

    def test_references_resolve(self):
        def keys(run_name, table, col):
            return set(pq.read_table(self.path(run_name, table), columns=[col])[col]
                       .to_pylist())
        self.assertLessEqual(keys("a", "lineitem", "l_orderkey"),
                             keys("a", "orders", "o_orderkey"))
        self.assertLessEqual(keys("a", "orders", "o_custkey"),
                             keys("a", "customer", "c_custkey"))
        self.assertLessEqual(keys("a", "lineitem", "l_partkey"),
                             keys("a", "part", "p_partkey"))

    def test_cached_output_is_reused(self):
        d = os.path.join(self.tmp.name, "a")
        before = os.stat(os.path.join(d, "lineitem.parquet")).st_mtime_ns
        gen.generate(run.SOURCE, d, SPEC, 7)
        self.assertEqual(before, os.stat(os.path.join(d, "lineitem.parquet")).st_mtime_ns)


if __name__ == "__main__":
    unittest.main()
