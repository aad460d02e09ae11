"""Tests of bench_ab.summarize on synthetic runs:
python3 -m unittest discover -s tools"""
import unittest

import bench_ab


def runs(metric, values):
    return [{"metrics": {metric: {"value": v}}} for v in values]


def table(metric, parent, change, better="higher", bound=0.25):
    results = {"parent": runs(metric, parent), "change": runs(metric, change)}
    return bench_ab.summarize(results, {metric: better}, {metric: bound})[metric]


class VerdictTest(unittest.TestCase):

    def test_small_loss_on_a_steady_parent_holds(self):
        m = table("scan_mbps", [100, 101, 99, 100, 102], [97, 98, 96, 99, 98])
        self.assertEqual(m["verdict"], "holds")
        self.assertEqual(m["bound"], 0.25)

    def test_median_loss_past_the_bound_is_worse(self):
        m = table("scan_mbps", [100, 101, 99, 100], [70, 72, 69, 71])
        self.assertEqual(m["verdict"], "worse")

    def test_lower_is_better_metrics_turn_the_sign(self):
        self.assertEqual(table("slice_p50_ms", [60, 61, 59, 60], [80, 81, 79, 80],
                               better="lower")["verdict"], "worse")
        self.assertEqual(table("slice_p50_ms", [60, 61, 59, 60], [40, 41, 39, 40],
                               better="lower")["verdict"], "holds")

    def test_a_parent_spread_past_the_bound_is_unresolved_unless_every_run_wins(self):
        parent = [50, 100, 150, 200, 120]
        self.assertEqual(table("write_mbps", parent, [60, 110, 160, 190, 130])["verdict"],
                         "unresolved")
        self.assertEqual(table("write_mbps", parent, [201, 210, 205, 230, 250])["verdict"],
                         "holds")

    def test_worse_is_judged_before_the_spread(self):
        self.assertEqual(table("write_mbps", [50, 100, 150, 200], [20, 30, 25, 35])["verdict"],
                         "worse")

    def test_a_metric_without_a_bound_gets_no_verdict(self):
        results = {"parent": runs("spark.gc_s", [1, 2]), "change": runs("spark.gc_s", [1, 2])}
        m = bench_ab.summarize(results, {"spark.gc_s": "lower"}, {})["spark.gc_s"]
        self.assertNotIn("verdict", m)

    def test_claim_rule_is_unchanged(self):
        m = table("scan_mbps", [100] * 9 + [101], [120] * 10)
        self.assertTrue(m["claim_met"])
        self.assertEqual(m["wins"], 10)


if __name__ == "__main__":
    unittest.main()
