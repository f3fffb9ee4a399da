"""An injected failing query, run through the real harness, is counted
as failed with its exception class and message, and the run goes on."""
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


@unittest.skipUnless(os.path.isdir(run.SOURCE), "sf0.1 fixtures not present")
class InjectedFailureTest(unittest.TestCase):
    def test_failing_query_is_counted_with_its_cause(self):
        classpath = run.build()
        full = run.query_names()
        os.makedirs(run.WORK, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=run.WORK) as tmp:
            data = os.path.join(tmp, "data")
            gen.generate(run.SOURCE, data, run.WORKLOADS["corpus"]["sizes"], 1)
            # documents without its text column: the table still opens,
            # but a query that tokenizes the text fails to analyze
            docs = pq.read_table(os.path.join(data, "documents.parquet"))
            pq.write_table(docs.drop_columns(["text"]),
                           os.path.join(data, "documents.parquet"))
            run_dir = os.path.join(tmp, "run")
            os.makedirs(run_dir)
            queries = [full["q27"], full["q70"]]
            rec = run.run_harness(classpath, data, queries, [], full, 0, run_dir)
        attempted, failed, causes = metrics.failures(rec["pass"])
        self.assertEqual((attempted, failed), (2, 1))
        name, cls, msg = causes[0]
        self.assertEqual(name, full["q27"])
        self.assertIn("AnalysisException", cls)
        self.assertTrue(msg)
        m = metrics.end_to_end(rec, {})
        self.assertEqual(m["ok_frac"][0], 0.5)


if __name__ == "__main__":
    unittest.main()
