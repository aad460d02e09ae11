"""Unit tests of the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import metrics  # noqa: E402


def op(kind, wall_s, phase="timed", ok=True, **kw):
    d = {"kind": kind, "phase": phase, "wall_s": wall_s, "ok": ok, "round": 0,
         "err": None if ok else "mismatch"}
    d.update(kw)
    return d


class PercentileChoice(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 80), 80)
        self.assertEqual(metrics.percentile(xs, 100), 100)
        self.assertEqual(metrics.percentile([7], 99), 7)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.percentile([5, 1, 4, 2, 3], 60), 3)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_pct(19))
        self.assertEqual(metrics.tail_pct(20), 50)
        self.assertEqual(metrics.tail_pct(49), 75)
        self.assertEqual(metrics.tail_pct(50), 80)
        self.assertEqual(metrics.tail_pct(100), 90)
        self.assertEqual(metrics.tail_pct(200), 95)
        self.assertEqual(metrics.tail_pct(1000), 99)
        for n in range(20, 400):
            self.assertGreaterEqual(metrics.beyond(n, metrics.tail_pct(n)), 10)

    def test_timing_reports_count(self):
        t = metrics.timing([0.1] * 60)
        self.assertEqual((t["n"], t["tail_pct"]), (60, 80))
        self.assertIsNone(metrics.timing([1.0, 2.0])["tail"])


class RatesAndRatios(unittest.TestCase):
    def test_mbps_base_is_1e6_bytes(self):
        self.assertAlmostEqual(metrics.mbps(50_000_000, 0.5), 100.0)

    def test_seconds_per_gb_base_is_1e9_bytes(self):
        self.assertAlmostEqual(metrics.s_per_gb(3.0, 2_000_000_000), 1.5)

    def test_ratio_of_zero_base_is_none(self):
        self.assertIsNone(metrics.ratio(5, 0))
        self.assertEqual(metrics.ratio(3, 4), 0.75)

    def test_end_to_end_bases(self):
        raw = {"setup_s": [9.0, 2.0, 3.0], "heap_live_bytes": [200_000_000, 250_000_000, 150_000_000],
               "ops": [op("write", 2.0, bytes=100_000_000, stored=40_000_000),
                       op("write", 1.0, bytes=100_000_000, stored=50_000_000),
                       op("write", 4.0, bytes=100_000_000, stored=45_000_000),
                       op("scan", 0.5, bytes=100_000_000)]
               + [op("slice", 0.1 + i / 1000.0, bytes=1) for i in range(60)]}
        m, d = metrics.end_to_end(raw)
        self.assertEqual(m["setup_s"], 3.0)
        self.assertAlmostEqual(m["write_mbps"], 50.0)       # median of 100, 50, 25
        self.assertAlmostEqual(m["stored_ratio"], 0.45)     # stored / user bytes
        self.assertAlmostEqual(m["scan_mbps"], 200.0)
        self.assertAlmostEqual(m["slice_p50_ms"], 129.5)
        self.assertAlmostEqual(m["slice_p80_ms"], 147.0)    # 48th of 60 samples
        self.assertAlmostEqual(m["peak_live_heap_mb"], 250.0)
        self.assertEqual(d["slice_ms"]["n"], 60)

    def test_trace_overhead_is_relative_round_time(self):
        raw = {"ops": [op("write", 1.0, "plain"), op("scan", 1.0, "plain"),
                       op("slice", 0.5, "plain"), op("slice", 0.5, "plain"),
                       op("write", 1.1, "traced"), op("scan", 1.1, "traced"),
                       op("slice", 0.55, "traced"), op("slice", 0.55, "traced")]}
        self.assertAlmostEqual(metrics.trace_overhead(raw), 0.1)


class SelfTime(unittest.TestCase):
    def span(self, id, parent, s, e, layer="x"):
        return {"id": id, "parent": parent, "start_ms": s, "end_ms": e, "layer": layer,
                "name": "n", "attrs": {}}

    def test_self_time_subtracts_union_of_children(self):
        spans = [self.span(1, 0, 0, 100, "op"),
                 self.span(2, 1, 10, 40), self.span(3, 1, 30, 60),   # overlap: 10..60
                 self.span(4, 1, 90, 130),                           # clipped to 90..100
                 self.span(5, 2, 15, 20)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[1], 100 - 50 - 10)
        self.assertAlmostEqual(st[2], 30 - 5)
        self.assertAlmostEqual(st[5], 5)
        by_layer = metrics.self_time_by_layer(spans)
        self.assertAlmostEqual(by_layer["op"], 40)

    def test_union_ignores_empty_intervals(self):
        self.assertEqual(metrics.union_length([(5, 5), (3, 1)]), 0)
        self.assertEqual(metrics.union_length([(0, 2), (2, 3), (10, 11)]), 4)


class Failures(unittest.TestCase):
    def test_corrupted_read_back_counts_failed_and_adds_no_sample(self):
        raw = {"setup_s": [1.0],
               "ops": [op("write", 1.0, bytes=10_000_000, stored=1),
                       op("scan", 0.1, bytes=10_000_000, ok=False),
                       op("scan", 0.2, bytes=10_000_000)],
               "codec": [{"layer": "NcFormat", "ok": False, "err": "record 3 field[0]"}]}
        attempted, failed, errors = metrics.accounting(raw)
        self.assertEqual((attempted, failed), (4, 2))
        self.assertIn("record 3 field[0]", errors)
        m, d = metrics.end_to_end(raw)
        self.assertEqual(d["scan_s"]["n"], 1)
        self.assertAlmostEqual(m["scan_mbps"], 50.0)

    def test_metric_missing_when_every_sample_failed(self):
        raw = {"setup_s": [1.0], "ops": [op("write", 1.0, ok=False, bytes=1, stored=1)]}
        m, _ = metrics.end_to_end(raw)
        self.assertNotIn("write_mbps", m)


class BenchmarkFile(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to perfbench/")
        b = json.load(open(path))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]],
                         [tuple(x) for x in metrics.END_TO_END])
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         [tuple(x[:3]) for x in metrics.PER_LAYER])


if __name__ == "__main__":
    unittest.main()
