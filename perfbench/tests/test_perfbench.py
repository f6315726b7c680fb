"""Tests of the benchmark's own logic. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402
import stats  # noqa: E402


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.base = gen.base_tables()

    def test_base_tables_are_the_stored_ones(self):
        for t in gen.TABLES:
            self.assertGreater(self.base[t].num_rows, 0, t)
        self.assertEqual(self.base["lineitem"].num_rows, 60_000)

    def test_same_seed_same_permutation(self):
        a, b = gen.permuted(self.base, 7), gen.permuted(self.base, 7)
        for t in gen.TABLES:
            self.assertEqual(len(a[t]), len(b[t]), t)
            for x, y in zip(a[t], b[t]):
                self.assertTrue(x.equals(y), t)

    def test_other_seed_other_row_order_same_rows(self):
        a, b = gen.permuted(self.base, 7), gen.permuted(self.base, 8)
        li_a = [r for p in a["lineitem"] for r in p.to_pylist()]
        li_b = [r for p in b["lineitem"] for r in p.to_pylist()]
        self.assertNotEqual(li_a, li_b)
        key = lambda r: tuple(sorted(r.items()))  # noqa: E731
        self.assertEqual(sorted(li_a, key=key), sorted(li_b, key=key))

    def _ingest(self, seed, d):
        gen.ingest_inputs(self.base["documents"], seed, 3, 40, 0.25, 4, d)
        self.assertEqual(sorted(os.listdir(os.path.join(d, "batches"))),
                         [f"batch-{i:05d}.parquet" for i in range(3)])
        batches = [pq.read_table(os.path.join(d, "batches", f"batch-{i:05d}.parquet"))
                   for i in range(3)]
        probes = [pq.read_table(os.path.join(d, "lookups", f"lookup-{i:05d}.parquet"))
                  for i in range(3)]
        return batches, probes

    def test_ingest_inputs_deterministic_and_seeded(self):
        with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2, \
                tempfile.TemporaryDirectory() as d3:
            b1, p1 = self._ingest(5, d1)
            b2, p2 = self._ingest(5, d2)
            b3, p3 = self._ingest(6, d3)
        for x, y in zip(b1 + p1, b2 + p2):
            self.assertTrue(x.equals(y))
        self.assertNotEqual([t.column("text").to_pylist() for t in b1],
                            [t.column("text").to_pylist() for t in b3])
        self.assertNotEqual([t.column("text").to_pylist() for t in p1],
                            [t.column("text").to_pylist() for t in p3])

    def test_ingest_batches_equal_size_with_resends_of_earlier_docs(self):
        with tempfile.TemporaryDirectory() as d:
            batches, probes = self._ingest(5, d)
        seen = set()
        for i, b in enumerate(batches):
            self.assertEqual(b.num_rows, 40)
            rows = b.to_pylist()
            resent = [r for r in rows if r["resent"]]
            self.assertEqual(len(resent), 0 if i == 0 else 10)
            for r in resent:
                self.assertIn(r["text"], seen)
            self.assertEqual(len({r["doc_id"] for r in rows}), 40)
            seen |= {r["text"] for r in rows}
            for t in probes[i].column("text").to_pylist():
                self.assertIn(t, seen)


class PercentileRuleTest(unittest.TestCase):
    def test_reported_with_ten_beyond(self):
        v, beyond = stats.tail_percentile(list(range(100)), 0.9)
        self.assertEqual((v, beyond), (89, 10))

    def test_withheld_with_fewer_than_ten_beyond(self):
        v, beyond = stats.tail_percentile(list(range(99)), 0.9)
        self.assertIsNone(v)
        self.assertEqual(beyond, 9)


class FailureAccountingTest(unittest.TestCase):
    OPS = [
        {"name": "q_a", "ok": True, "wall_s": 1.0},
        {"name": "q_b", "ok": False, "wall_s": 0.1},           # threw
        {"name": "q_c", "ok": True, "wall_s": 2.0},            # wrong output
        {"ok": True, "wall_s": 3.0, "check_failed": True},     # failed check
        {"ok": True, "wall_s": 4.0, "check_failed": False},
    ]

    def test_failed_counts_throws_wrong_outputs_and_failed_checks(self):
        self.assertEqual(stats.failures(self.OPS, wrong={"q_c"}), (5, 3))

    def test_failed_operations_left_out_of_latencies(self):
        self.assertEqual(stats.good_latencies(self.OPS, wrong={"q_c"}), [1.0, 4.0])

    def test_growth_is_last_quarter_over_first(self):
        self.assertEqual(stats.growth([1.0, 1.0, 2.0, 2.0, 2.0, 2.0, 3.0, 3.0]), 3.0)


if __name__ == "__main__":
    unittest.main()
