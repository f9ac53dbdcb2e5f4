"""Tests of the benchmark harness itself (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402
import metrics as m  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(m.supported_percentile(1000), 99)
        self.assertEqual(m.supported_percentile(200), 95)
        self.assertEqual(m.supported_percentile(199), 90)
        self.assertEqual(m.supported_percentile(100), 90)
        self.assertEqual(m.supported_percentile(99), 80)
        self.assertEqual(m.supported_percentile(40), 75)
        self.assertEqual(m.supported_percentile(39), 50)
        self.assertEqual(m.supported_percentile(20), 50)
        self.assertIsNone(m.supported_percentile(19))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [
            (0, "bench.query", 0, 100, -1, 0),
            (1, "plans.build", 10, 40, 0, 0),
            (2, "plans.optimize", 30, 60, 0, 0),     # overlaps its sibling by 10
            (3, "sources.star_build", 35, 45, 2, 0),  # nested in the second child
        ]
        st = m.self_times(spans)
        self.assertEqual(st["bench"], (100 - 50, 1))        # children cover [10, 60]
        self.assertEqual(st["plans"], ((30 - 0) + (30 - 10), 2))
        self.assertEqual(st["sources"], (10, 1))

    def test_child_outside_parent_is_clipped(self):
        spans = [(0, "a.x", 0, 10, -1, 0), (1, "b.y", 5, 20, 0, 0)]
        self.assertEqual(m.self_times(spans)["a"], (5, 1))

    def test_disjoint_children(self):
        spans = [(0, "a.x", 0, 10, -1, 0), (1, "b.y", 1, 2, 0, 0), (2, "b.z", 4, 7, 0, 0)]
        self.assertEqual(m.self_times(spans)["a"], (6, 1))


class OutcomeTest(unittest.TestCase):
    def test_failed_ops_and_wrong_outputs_both_count(self):
        res = m.outcome([True] * 8 + [False] * 2, wrong=1)
        self.assertEqual(res, {"correct": False, "attempted": 10, "failed": 3,
                               "error_rate": 0.3})

    def test_clean_run(self):
        res = m.outcome([True] * 4, wrong=0)
        self.assertTrue(res["correct"])
        self.assertEqual(res["error_rate"], 0.0)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            m.outcome([], wrong=0)


class CellComparisonTest(unittest.TestCase):
    def test_rounding_tie_on_a_large_sum_matches(self):
        self.assertTrue(checks._same(1930852.47, 1930852.48))
        self.assertTrue(checks._same(100.0, 100.0 + 1e-10))

    def test_real_differences_do_not(self):
        self.assertFalse(checks._same(0.05, 0.06))      # unit not small against the value
        self.assertFalse(checks._same(1930852.47, 1930852.49))
        self.assertFalse(checks._same(12.5, 12.6))
        self.assertFalse(checks._same("a", "b"))
        self.assertTrue(checks._same(None, None))


class GeneratorTest(unittest.TestCase):
    def _same_tree(self, a, b):
        cmp = filecmp.dircmp(a, b)
        return (not cmp.left_only and not cmp.right_only and
                filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)[0] == cmp.common_files)

    def test_same_seed_gives_byte_identical_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            for run in ("a", "b"):
                gen.tpch(f"{d}/{run}/olap", 7, 0.001)
                gen.ingest(f"{d}/{run}/ingest", 7, 3)
            for w in ("olap", "ingest"):
                self.assertTrue(self._same_tree(f"{d}/a/{w}", f"{d}/b/{w}"), w)
            gen.tpch(f"{d}/c/olap", 8, 0.001)
            self.assertFalse(self._same_tree(f"{d}/a/olap", f"{d}/c/olap"))

    def test_planted_copies(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.ingest(d, 3, 3, batch_docs=1000)
            with open(f"{d}/truth.json") as f:
                truth = json.load(f)
            texts = {}
            for b in range(3):
                t = pq.read_table(f"{d}/docs_{b:04d}.parquet").to_pydict()
                texts.update(zip(t["doc_id"], t["text"]))
            kinds = []
            for b, batch in enumerate(truth["batches"]):
                for copy_id, orig_id, kind in batch["planted"]:
                    kinds.append(kind)
                    self.assertLess(orig_id, copy_id)
                    a, c = texts[orig_id].split(), texts[copy_id].split()
                    self.assertGreaterEqual(len(a), gen.MIN_TOKENS)
                    self.assertEqual(c, a if kind == "exact" else a + [gen.DUP_MARK])
                    self.assertGreaterEqual(gen.jaccard(a, c), gen.THRESHOLD)
            self.assertEqual(kinds.count("near"), 3 * 50)  # 5 % of each batch
            self.assertGreater(kinds.count("exact"), 0)

if __name__ == "__main__":
    unittest.main()
