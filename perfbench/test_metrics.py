"""Self-tests for the benchmark's statistics helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


def op(i, key, check, ok=True, kind="k", lat=1.0, units=1, traced=False):
    return {"i": i, "key": key, "check": check, "ok": ok, "kind": kind,
            "lat_s": lat, "units": units, "traced": traced}


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.percentile(list(range(19)), 0.5))
        self.assertEqual(metrics.percentile(list(range(1, 21)), 0.5), 10)
        self.assertIsNone(metrics.percentile(list(range(99)), 0.9))
        self.assertEqual(metrics.percentile(list(range(1, 101)), 0.9), 90)

    def test_nearest_rank_ignores_order(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 4
        self.assertEqual(metrics.percentile(xs, 0.5), 3.0)

    def test_empty(self):
        self.assertIsNone(metrics.percentile([], 0.5))
        self.assertIsNone(metrics.median([]))


class Ratios(unittest.TestCase):
    def test_skew_is_max_over_median(self):
        self.assertEqual(metrics.skew([10, 10, 10, 40]), 4.0)
        self.assertEqual(metrics.skew([7]), 1.0)
        self.assertIsNone(metrics.skew([]))
        self.assertIsNone(metrics.skew([0, 0, 5]))

    def test_rows_read_per_hit(self):
        self.assertEqual(metrics.ratio(1200, 300), 4.0)
        self.assertIsNone(metrics.ratio(1200, 0))

    def test_rate_is_items_over_busy_time(self):
        ops = [op(0, "a", "x", lat=2.0, units=10), op(1, "a", "x", lat=3.0, units=15)]
        self.assertEqual(metrics.rate(metrics.units(ops), ops), 5.0)
        self.assertEqual(metrics.rate(3, []), 0.0)

    def test_mix_rate_weighs_kinds_by_the_mix(self):
        ops = [op(0, "0", "x", kind="light", lat=0.5), op(1, "1", "x", kind="heavy", lat=2.0),
               op(2, "2", "x", kind="light", lat=0.5), op(3, "3", "x", kind="light", lat=1.0)]
        # mix of 3 light + 1 heavy: mean light 2/3 s -> 3 * 2/3 + 2 = 4 s per 4 calls
        self.assertAlmostEqual(metrics.mix_rate(["light", "light", "light", "heavy"], ops), 1.0)

    def test_trace_overhead_per_kind(self):
        ops = [op(0, "a", "x", kind="q", lat=1.0), op(1, "a", "x", kind="q", lat=1.1, traced=True),
               op(2, "b", "y", kind="r", lat=2.0), op(3, "b", "y", kind="r", lat=2.2, traced=True)]
        self.assertAlmostEqual(metrics.trace_overhead(ops), 0.1)


class FailureCounting(unittest.TestCase):
    def test_clean_run(self):
        ops = [op(0, "0", "3:9"), op(1, "1", "4:8"), op(2, "0", "3:9")]
        self.assertEqual(metrics.count_failures(ops, {"0": "3:9", "1": "4:8"}), 0)

    def test_harness_failure_counts(self):
        ops = [op(0, "0", "3:9", ok=False), op(1, "1", "4:8")]
        self.assertEqual(metrics.count_failures(ops, {}), 1)

    def test_golden_mismatch_counts(self):
        ops = [op(0, "0", "3:9"), op(1, "1", "4:7")]
        self.assertEqual(metrics.count_failures(ops, {"0": "3:9", "1": "4:8"}), 1)

    def test_repeat_mismatch_counts_without_golden(self):
        ops = [op(0, "build", "5:a"), op(1, "build", "5:a"), op(2, "build", "6:b")]
        self.assertEqual(metrics.count_failures(ops, {}), 1)

    def test_final_digest_mismatch_fails_the_run(self):
        rec = {"workload": "w", "seed": 3, "ops": [op(0, "k", "c")], "errors": [],
               "final_check": "pixels:1", "session_s": 1.0, "prepare_s": 3.0,
               "peak_rss_mb": 100.0}
        golden = {"w": {"3": {"checks": {"k": "c"}, "final": "pixels:2"}}}
        res = metrics.result(rec, golden, trace=False)["contract"]
        self.assertFalse(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (1, 1))
        self.assertEqual(res["metrics"]["setup_s"]["value"], 4.0)


if __name__ == "__main__":
    unittest.main()
