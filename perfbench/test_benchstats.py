"""Unit tests for the benchmark's statistics and its BENCHMARK.json.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import math
import os
import unittest

import benchstats
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        p, v, n, beyond = benchstats.tail(list(range(1, 201)))
        self.assertEqual((p, n), (95.0, 200))
        self.assertEqual(v, 190)
        self.assertEqual(beyond, 10)  # p99 would leave two beyond

    def test_every_reported_tail_has_ten_samples_beyond(self):
        for n in range(20, 400, 7):
            p, v, _, beyond = benchstats.tail([float(i) for i in range(n)])
            self.assertGreaterEqual(beyond, 10, n)
            self.assertEqual(sum(1 for i in range(n) if i > v), beyond, n)

    def test_no_tail_below_twenty_samples(self):
        self.assertIsNone(benchstats.tail(list(range(19))))
        self.assertEqual(benchstats.tail(list(range(20)))[0], 50.0)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0] * 10
        self.assertEqual(benchstats.tail(xs), benchstats.tail(sorted(xs)))


class FailureCounting(unittest.TestCase):
    def test_counts_failed_against_attempted(self):
        self.assertEqual(benchstats.failure_counts([True, False, True, False]), (4, 2, 0.5))
        self.assertEqual(benchstats.failure_counts([True] * 3), (3, 0, 0.0))

    def test_nothing_attempted_is_all_failed(self):
        self.assertEqual(benchstats.failure_counts([]), (0, 0, 1.0))



class EndToEnd(unittest.TestCase):
    def test_parts_map_to_op_a_and_op_b(self):
        raw = {"workload": "kv_nearsync", "setup_s": [3.0, 1.0, 2.0], "heap_after_gc_MB": [10.0, 12.0],
               "parts_ms": {"verify": [100.0, 300.0], "range_check": [5.0, 7.0, 6.0]}}
        self.assertEqual(benchstats.end_to_end(raw),
                         {"setup_s": 2.0, "op_a_p50_ms": 200.0, "op_b_p50_ms": 6.0, "peak_heap_MB": 12.0})

    def test_every_workload_has_two_parts(self):
        self.assertEqual(set(benchstats.PARTS), set(run.WORKLOADS))
        self.assertTrue(all(len(set(p)) == 2 for p in benchstats.PARTS.values()))

    def test_a_missing_part_is_not_a_number(self):
        raw = {"workload": "corpus_dedup", "setup_s": [1.0], "heap_after_gc_MB": [1.0],
               "parts_ms": {"minhash": [4.0]}}
        self.assertTrue(math.isnan(benchstats.end_to_end(raw)["op_b_p50_ms"]))


class BenchmarkJson(unittest.TestCase):
    def test_metrics_match_what_run_reports(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], list(run.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
