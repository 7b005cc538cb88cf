"""Tests of the benchmark's own logic (no engine needed):

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import ops  # noqa: E402
import stats  # noqa: E402

SEED_ROWS = [(k, k % 97, "O", 1000.0 + k * 0.25, ops.PRIORITIES[k % 5])
             for k in range(3000)]
QUERIES = [f"q{i:02d}" for i in range(14)]


class SequenceTest(unittest.TestCase):
    def test_same_seed_same_sequence(self):
        self.assertEqual(ops.olap_order(7, QUERIES, 3), ops.olap_order(7, QUERIES, 3))
        self.assertEqual(ops.lakehouse_ops(7, SEED_ROWS, 200)[0],
                         ops.lakehouse_ops(7, SEED_ROWS, 200)[0])
        self.assertEqual(ops.fraud_draw(7), ops.fraud_draw(7))

    def test_other_seed_other_sequence(self):
        self.assertNotEqual(ops.olap_order(7, QUERIES, 3), ops.olap_order(8, QUERIES, 3))
        self.assertNotEqual(ops.lakehouse_ops(7, SEED_ROWS, 200)[0],
                            ops.lakehouse_ops(8, SEED_ROWS, 200)[0])
        self.assertNotEqual(ops.fraud_draw(7), ops.fraud_draw(8))

    def test_olap_passes_cover_every_query(self):
        order = ops.olap_order(3, QUERIES, 4)
        for p in range(4):
            self.assertEqual(sorted(order[p * 14:(p + 1) * 14]), QUERIES)

    def test_lakehouse_prefix_models(self):
        full, _ = ops.lakehouse_ops(5, SEED_ROWS, 300)
        part, _ = ops.lakehouse_ops(5, SEED_ROWS, 120)
        self.assertEqual(part, full[:120])
        # the models after the prefix before each scan agree with that
        # scan's expected full-table aggregate
        scans = [i for i, op in enumerate(full) if op["kind"] == "scan"]
        self.assertTrue(scans)
        for i in scans[:5]:
            m = ops.lakehouse_ops(5, SEED_ROWS, i)[1][full[i]["table"]]
            self.assertEqual(full[i]["expect_rows"], len(m.rows))
            self.assertAlmostEqual(full[i]["expect_sum"], sum(r[3] for r in m.rows.values()))

    def test_lakehouse_rounds_share_one_mix(self):
        seq, _ = ops.lakehouse_ops(4, SEED_ROWS, 5 * len(ops.KINDS) * len(ops.ROUND))
        n = len(ops.KINDS) * len(ops.ROUND)
        mixes = [sorted((op["table"], op["kind"]) for op in seq[i:i + n])
                 for i in range(0, len(seq), n)]
        self.assertTrue(all(m == mixes[0] for m in mixes))
        self.assertNotEqual([op["kind"] for op in seq[:n]], [op["kind"] for op in seq[n:2 * n]])

    def test_lakehouse_mix_and_feed_expectations(self):
        seq, _ = ops.lakehouse_ops(9, SEED_ROWS, 600)
        kinds = {op["kind"] for op in seq}
        self.assertEqual(kinds, {"insert", "update", "delete", "merge", "read", "scan", "changes"})
        dml = {}
        for op in seq:
            if op["kind"] in ops.DML:
                self.assertGreaterEqual(op["rows_changed"], 1)
                dml[(op["table"], op["dml_seq"])] = op
            elif op["kind"] == "changes":
                src = dml[(op["table"], op["dml_seq"])]
                n = src["rows_changed"]
                if op["table"] == "mor" and src["kind"] == "insert":
                    self.assertEqual(op["expect_feed"], {})
                elif src["kind"] == "insert":
                    self.assertEqual(op["expect_feed"], {"0": n})
                elif src["kind"] == "delete":
                    self.assertEqual(op["expect_feed"], {"2": n})
        # the sequence runs well past the tables' retention window
        self.assertGreater(max(s for (_, s) in dml), 3 * ops.RETAIN)


class PercentileTest(unittest.TestCase):
    def test_sample_minimums(self):
        self.assertEqual(stats.min_samples(0.5), 20)
        self.assertEqual(stats.min_samples(0.9), 100)
        self.assertEqual(stats.min_samples(0.99), 1000)

    def test_p90_refused_below_100_samples(self):
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(list(range(99)), 0, 0.9)
        self.assertEqual(stats.percentile(list(range(1, 101)), 0, 0.9), 90)

    def test_p50_refused_below_20_samples(self):
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(list(range(19)), 0, 0.5)
        self.assertEqual(stats.percentile(list(range(1, 21)), 0, 0.5), 10)

    def test_failed_ops_miss_every_latency_limit(self):
        ok = [1.0] * 90
        self.assertEqual(stats.percentile(ok, 10, 0.9), 1.0)
        self.assertTrue(math.isinf(stats.percentile(ok, 11, 0.9)))
        # failures count toward the sample minimum
        self.assertEqual(stats.percentile([1.0] * 10, 10, 0.5), 1.0)
        self.assertTrue(math.isinf(stats.percentile([1.0] * 9, 11, 0.5)))


if __name__ == "__main__":
    unittest.main()
