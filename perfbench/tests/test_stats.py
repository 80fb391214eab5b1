"""Tests of the harness's own statistics.

Run from the repository root: python3 -m unittest discover -s perfbench/tests -t perfbench
"""

import random
import unittest

from benchlib import metrics, stats


class PercentileTest(unittest.TestCase):
    def test_p95_needs_ten_samples_beyond_it(self):
        samples = list(range(1, 201))  # rank 190 leaves exactly 10 beyond
        self.assertEqual(stats.percentile(samples, 0.95), 190)
        with self.assertRaises(stats.InsufficientSamples):
            stats.percentile(samples[:-1], 0.95)

    def test_min_samples_matches_the_rule(self):
        self.assertEqual(stats.min_samples(0.95), 200)
        self.assertEqual(stats.min_samples(0.99), 1000)
        self.assertEqual(stats.min_samples(0.5), 20)
        for q in (0.5, 0.9, 0.95):
            n = stats.min_samples(q)
            stats.percentile(list(range(n)), q)
            with self.assertRaises(stats.InsufficientSamples):
                stats.percentile(list(range(n - 1)), q)

    def test_nearest_rank_ignores_input_order(self):
        samples = [float(i) for i in range(300)]
        shuffled = samples[:]
        random.Random(7).shuffle(shuffled)
        self.assertEqual(stats.percentile(samples, 0.95), stats.percentile(shuffled, 0.95))
        self.assertEqual(stats.percentile(samples, 0.95), 284.0)

    def test_tail_picks_the_highest_supported_percentile(self):
        self.assertEqual(stats.tail(list(range(1, 201))), (0.95, 190))
        self.assertEqual(stats.tail(list(range(1, 101))), (0.9, 90))
        self.assertIsNone(stats.tail(list(range(12))))

    def test_rejects_out_of_range_percentiles(self):
        for q in (0, 1, 95):
            with self.assertRaises(ValueError):
                stats.percentile(list(range(1000)), q)


def _op(name, pass_, wall, rows=5, hash_=9, error=None, kind="query"):
    return {"kind": kind, "name": name, "pass": pass_, "traced": False, "build_s": 0.0,
            "action_s": wall, "rows": rows, "hash": hash_, "error": error, "extra": {}}


class CheckTest(unittest.TestCase):
    def test_digest_mismatch_and_errors_fail(self):
        record = {"ops": [_op("q1", 0, 1.0), _op("q1", 1, 1.0, hash_=8),
                          _op("q2", 0, 1.0, error="boom"), _op("q3", 0, 1.0)]}
        failures = metrics.check(record, {"q1": [5, 9], "q2": [5, 9]})
        self.assertEqual([op["ok"] for op in record["ops"]], [True, False, False, False])
        self.assertEqual(len(failures), 3)
        self.assertIn("no reference digest", failures[2])

    def test_end_to_end_takes_medians_of_the_measured_warm_passes(self):
        ops = [_op("a", 0, 3.0), _op("b", 0, 2.0)]
        walls = [(9.0, 9.0), (5.0, 5.0), (1.0, 1.0), (1.5, 1.0), (1.0, 0.5)]
        for p, (a, b) in enumerate(walls, start=1):
            ops += [_op("a", p, a), _op("b", p, b)]
        record = {"workload": "graph_loops", "ops": ops, "setup_s": [9.0, 2.0, 1.0],
                  "retained_heap_mb": 100.0, "ramp_passes": 2}
        m, detail = metrics.end_to_end(record)
        self.assertEqual(m["setup_s"][0], 2.0)
        self.assertEqual(m["cold_pass_s"][0], 5.0)
        # ramp passes 1 and 2 are left out; passes 3..5 sum to 2.0, 2.5, 1.5
        self.assertEqual(detail["warm_pass_walls_s"], [2.0, 2.5, 1.5])
        self.assertEqual(m["warm_pass_s"][0], 2.0)
        self.assertEqual(detail["warm_pass_quartiles_s"], [1.75, 2.0, 2.25])
        # every measured repetition of every query
        self.assertEqual(m["op_p50_ms"][0], 1000.0)
        self.assertEqual(detail["op_samples"], 6)

    def test_gold_serve_times_lookups_apart_from_writes(self):
        ops = [_op("gold_write", 0, 5.0, kind="write"), _op("m:b", 0, 1.0, kind="lookup")]
        for p in (1, 2, 3):
            ops += [_op("gold_write", p, 2.0 + p, kind="write")]
            ops += [_op("m:b", p, 0.1 * k, kind="lookup") for k in range(1, 4)]
        record = {"workload": "gold_serve", "ops": ops, "setup_s": [3.0],
                  "retained_heap_mb": 1.0, "ramp_passes": 1}
        m, detail = metrics.end_to_end(record)
        self.assertEqual(m["cold_pass_s"][0], 6.0)
        self.assertEqual(detail["gold_write_s"], [4.0, 5.0])
        self.assertAlmostEqual(m["warm_pass_s"][0], 5.1)
        self.assertAlmostEqual(m["op_p50_ms"][0], 200.0)


if __name__ == "__main__":
    unittest.main()
