"""Self-tests of the benchmark's helpers: python3 perfbench/test_bench.py"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
import stats  # noqa: E402


def tree(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


class GeneratedInputs(unittest.TestCase):

    def prepared(self, workload, seed):
        d = tempfile.mkdtemp(prefix="perfbench-test-")
        run.prepare(workload, seed, 2, d)
        return d

    def assert_same(self, a, b):
        self.assertEqual(tree(a), tree(b))
        _, mismatch, errors = filecmp.cmpfiles(a, b, tree(a), shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def assert_differ(self, a, b):
        _, mismatch, _ = filecmp.cmpfiles(a, b, tree(a), shallow=False)
        self.assertTrue(mismatch)

    def test_same_seed_gives_identical_bytes(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                self.assert_same(self.prepared(w, 7), self.prepared(w, 7))

    def test_other_seed_gives_other_inputs(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                self.assert_differ(self.prepared(w, 7), self.prepared(w, 8))


class Percentiles(unittest.TestCase):

    def test_tail_keeps_ten_samples_beyond(self):
        xs = list(range(1, 1001))
        self.assertEqual(stats.tail(xs), (99, 990.0, 1000))
        self.assertEqual(stats.tail(xs[:999])[0], 95)
        self.assertEqual(stats.tail(list(range(1, 41))), (75, 30.0, 40))
        self.assertEqual(stats.tail(list(range(1, 40)))[0], 50)

    def test_nearest_rank(self):
        self.assertEqual(stats.nearest_rank([5, 1, 3], 50), 3.0)
        self.assertEqual(stats.nearest_rank([5, 1, 3], 100), 5.0)
        self.assertEqual(stats.nearest_rank([5, 1, 3], 1), 1.0)


class DueTimeAccounting(unittest.TestCase):

    def test_generator_stall_is_charged_to_later_events(self):
        # the third release stalls 500 ms; the generator then releases the
        # overdue files at once, without shifting its schedule
        releases = [(0, 0), (100, 100), (200, 700), (300, 700), (400, 700)]
        done = [(due, rel + 50) for due, rel in releases]
        self.assertEqual(stats.latencies(done), [50, 50, 550, 450, 350])
        self.assertEqual(stats.lateness_max(releases), 500)

    def test_self_time_subtracts_covered_child_time(self):
        s = 10 ** 9
        spans = [
            {"id": 1, "parent": 0, "layer": "operators", "start_ns": 0,
             "end_ns": 10 * s},
            {"id": 2, "parent": 1, "layer": "engine", "start_ns": 2 * s,
             "end_ns": 4 * s},
            {"id": 3, "parent": 1, "layer": "engine", "start_ns": 3 * s,
             "end_ns": 6 * s},
        ]
        t = stats.self_time(spans)
        self.assertAlmostEqual(t["operators"], 6.0)
        self.assertAlmostEqual(t["engine"], 5.0)


class Contract(unittest.TestCase):

    def test_benchmark_json_lists_what_run_reports(self):
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        if not os.path.isfile(path):
            self.skipTest("no BENCHMARK.json beside the benchmark")
        with open(path) as fh:
            spec = json.load(fh)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"])
                          for m in spec["end_to_end"]],
                         [m[:3] for m in run.END_TO_END])
        self.assertEqual([(m["name"], m["unit"], m["better"])
                          for m in spec["per_layer"]], list(run.LAYERS))


if __name__ == "__main__":
    unittest.main()
