"""Tests for the benchmark's own pieces (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import layers
import stats
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileTest(unittest.TestCase):
    def test_matches_linear_interpolation(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(stats.percentile(xs, 50), 3.0)
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 5.0)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertAlmostEqual(stats.percentile([1.0, 2.0], 50), 1.5)

    def test_degenerate_samples(self):
        self.assertIsNone(stats.percentile([], 50))
        self.assertEqual(stats.percentile([7.0], 90), 7.0)
        self.assertEqual(stats.median([3, 1, 2]), 2)

    def test_samples_beyond_and_supported_percentile(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(11, 0), 10)
        self.assertEqual(stats.beyond(0, 50), 0)
        # ten samples beyond needs at least 11; 100 samples support p90
        self.assertEqual(stats.supported_percentile(10), 0)
        self.assertEqual(stats.supported_percentile(100), 90)
        self.assertEqual(stats.supported_percentile(24), 60)


class ScriptTest(unittest.TestCase):
    def test_same_seed_same_ops(self):
        for wl in workloads.WORKLOADS:
            self.assertEqual(workloads.script(wl, 7), workloads.script(wl, 7), wl)

    def test_other_seed_other_ops(self):
        for wl in workloads.WORKLOADS:
            self.assertNotEqual(workloads.script(wl, 7), workloads.script(wl, 8), wl)

    def test_every_pass_has_the_same_mix(self):
        blocks = workloads.parse(workloads.script("messages_rw", 3))
        self.assertEqual({tuple(c for c, _ in b) for b in blocks[1:]},
                         {tuple(workloads.PASS_ORDER)})
        for wl in workloads.ENTRY_SETS:
            blocks = workloads.parse(workloads.script(wl, 3))
            names = {tuple(sorted(a[0] for _, a in b)) for b in blocks[1:]}
            self.assertEqual(names, {tuple(sorted(workloads.ENTRY_SETS[wl]))})
            self.assertEqual(workloads.check_names(wl), sorted(workloads.ENTRY_SETS[wl]))


class ModelCheckTest(unittest.TestCase):
    INIT = [("iu", ["uid-a-1,alice,alice.1@example.com,pw1|uid-b-2,bob,bob.2@example.com,pw2"]),
            ("im", ["1,author1,b1.0 hello|2,author2,b1.1 ring"])]

    def ops(self, user_row):
        return [
            {"code": "iu", "args": ["uid-a-3,alice,alice.3@example.com,pw3"]},
            {"code": "im", "args": ["1,author3,b2.0 key"]},
            {"code": "ru", "args": ["alice"], "rows": [user_row]},
            {"code": "rc", "args": ["1"],
             "rows": [[1, "author3", "b2.0 key"], [1, "author1", "b1.0 hello"]]},
            {"code": "dc", "args": ["2"]},
            {"code": "am", "args": [],
             "rows": [[1, "author1", "b1.0 hello"], [1, "author3", "b2.0 key"]]},
        ]

    def test_model_accepts_right_rows(self):
        bad, model = workloads.check_messages(
            self.INIT, self.ops(["uid-a-3", "alice", "alice.3@example.com"]))
        self.assertEqual(bad, [])
        self.assertGreater(model.live_bytes(), 0)

    def test_model_catches_wrong_lww_row(self):
        # the older write of alice served instead of the newest one
        bad, _ = workloads.check_messages(
            self.INIT, self.ops(["uid-a-1", "alice", "alice.1@example.com"]))
        self.assertEqual([i for i, _ in bad], [2])

    def test_model_catches_order_and_deleted_rows(self):
        ops = self.ops(["uid-a-3", "alice", "alice.3@example.com"])
        ops[3]["rows"].reverse()  # oldest first
        ops[5]["rows"].append([2, "author2", "b1.1 ring"])  # deleted channel
        bad, _ = workloads.check_messages(self.INIT, ops)
        self.assertEqual([i for i, _ in bad], [3, 5])


def minimal_result(workload):
    """The smallest JVM result layers.metrics accepts: one first-pass
    op and one warm op, untraced."""
    op = {"i": 0, "pass": 0, "kind": "entry", "name": "x", "lat_ms": 2.0,
          "cpu_ms": 1.0, "gc_ms": 0.0, "ok": True, "rows_out": 1}
    return {"workload": workload, "nproc": 4, "setup_s": 2.0,
            "first_pass_s": 1.0, "warm_wall_s": 1.0, "warm_cpu_s": 1.0,
            "mem_peak_mb": 100.0, "heap_peak_mb": 50.0, "store": {},
            "ops": [op, dict(op, i=1, **{"pass": 1})], "wrong": []}


class BenchmarkJsonTest(unittest.TestCase):
    """BENCHMARK.json must list exactly the metrics run.py prints."""

    def setUp(self):
        path = os.path.join(HERE, "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside perfbench/")
        with open(path) as f:
            self.spec = json.load(f)

    def test_metric_names_and_units(self):
        e2e, per_layer = layers.metrics(minimal_result("stream"))
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]},
                         {k: v["unit"] for k, v in e2e.items()})
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["per_layer"]},
                         {k: v["unit"] for k, v in per_layer.items()})

    def test_workloads_exist(self):
        for w in self.spec["workloads"]:
            self.assertIn(w["name"], workloads.WORKLOADS)

    def test_minimal_result_metrics(self):
        e2e, _ = layers.metrics(minimal_result("messages_rw"))
        self.assertEqual(e2e["setup_s"]["value"], 2.0)
        self.assertEqual(e2e["lat_p50_ms"]["n"], 1)


if __name__ == "__main__":
    unittest.main()
