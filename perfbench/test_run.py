"""Unit tests of the benchmark's statistics (python3 -m unittest in perfbench/)."""
import json
import os
import statistics
import unittest

import run


def op(i, wall, ok=True):
    return {"i": i, "wall_s": wall, "cpu_s": 2 * wall, "ok": ok, "input_rows": 10}


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        lat = [float(i) for i in range(1, 101)]
        self.assertEqual(run.tail(lat), (90.0, 90.0))
        pct, v = run.tail(list(reversed(lat[:30])))
        self.assertAlmostEqual(pct, 100 * 20 / 30)
        self.assertEqual(v, 20.0)
        self.assertEqual(len([x for x in lat[:30] if x > v]), 10)

    def test_never_below_the_median(self):
        lat = [float(i) for i in range(1, 16)]
        self.assertEqual(run.tail(lat), (50.0, statistics.median(lat)))
        self.assertEqual(run.tail([3.0]), (50.0, 3.0))


class FailedOpsTest(unittest.TestCase):
    def test_failed_ops_leave_the_latencies(self):
        jvm = {"setup_s": [9.0, 1.0, 2.0], "peak_rss_mb": 100.0}
        ops = [op(0, 1.0), op(1, 50.0, ok=False), op(2, 3.0), op(3, 40.0), op(4, 2.0)]
        e2e, stats = run.end_to_end(ops, {3}, jvm, timed_s=10.0)
        self.assertEqual(stats["samples"], 3)
        self.assertEqual(e2e["op_p50_s"], 2.0)
        self.assertEqual(e2e["ops_per_s"], 0.3)
        self.assertEqual(e2e["input_rows_per_s"], 3.0)
        self.assertEqual(e2e["setup_s"], 2.0)

    def test_no_good_op_gives_no_figures(self):
        self.assertIsNone(run.end_to_end([op(0, 1.0, ok=False)], set(), {}, 1.0))


class MetricNamesTest(unittest.TestCase):
    """Runs report exactly the metrics BENCHMARK.json names."""

    def setUp(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_end_to_end_names(self):
        self.assertEqual([m["name"] for m in self.bench["end_to_end"]],
                         [n for n, _ in run.END_TO_END])
        self.assertEqual([w["name"] for w in self.bench["workloads"]], run.GATED)

    def test_per_layer_names_and_units(self):
        want = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        totals = dict.fromkeys(["calls", "s", "jobs", "tasks", "cpu_s", "gap_s", "fs_ops",
                                "bytes_written", "input_bytes", "shuffle_bytes",
                                "spill_bytes", "failed_tasks"], 1)
        for wl in run.GATED:
            jvm = {"ops": [op(0, 1.0)], "state": {},
                   "layers": {"spans": {s: totals for s in run.SPANS[wl]}, "window": totals,
                              "op_wall_s": 1.0, "op_span_s": 1.0}}
            inputs = {"days": []}
            got = run.per_layer(wl, jvm, inputs)
            self.assertEqual({k: u for k, (_, u) in got.items()}, want)


if __name__ == "__main__":
    unittest.main()
