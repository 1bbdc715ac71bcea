"""Tests of the benchmark's Python half: python3 -m unittest discover perfbench"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402


class SamplerTest(unittest.TestCase):
    pools = bench.load_pools()

    def test_same_seed_same_keys_and_order(self):
        for w in bench.WORKLOADS:
            self.assertEqual(bench.sample(w, 7, self.pools),
                             bench.sample(w, 7, self.pools))

    def test_seeds_differ(self):
        for w in bench.WORKLOADS:
            runs = {tuple(bench.sample(w, s, self.pools)) for s in range(10)}
            self.assertGreater(len(runs), 1, w)

    def test_one_key_per_stratum_from_the_pool(self):
        for w, spec in bench.WORKLOADS.items():
            keys = bench.sample(w, 3, self.pools)
            self.assertEqual(len(keys), spec["strata"])
            self.assertEqual(len(set(keys)), len(keys))
            self.assertTrue(set(keys) <= set(self.pools["pools"][w]))

    def test_covers_every_family(self):
        # Seeds together draw every key of every stratum. For load that
        # is every family of its pool; mix's 19 strata reach 31 of the 35
        # families (the four one-key families sit between strata).
        for w, spec in bench.WORKLOADS.items():
            pool = self.pools["pools"][w]
            costs = {k: self.pools["cost_s"][spec["action"]][k] for k in pool}
            drawable = {k for s in bench.strata(costs, spec["strata"], spec["width"])
                        for k in s}
            drawn = {k for s in range(2000) for k in bench.sample(w, s, self.pools)}
            self.assertEqual(drawn, drawable, w)
        families = {w: {bench.family(k) for s in range(2000)
                        for k in bench.sample(w, s, self.pools)}
                    for w in ("mix", "load")}
        self.assertEqual(families["load"], {"etl", "pipeline", "dedup",
                                            "multimodal", "scan"})
        self.assertGreaterEqual(len(families["mix"]), 31)


class PercentileTest(unittest.TestCase):
    def test_tail_reports_percentile_and_sample_count(self):
        values = [float(i) for i in range(1, 41)]
        value, pct, n = bench.tail(values)
        self.assertEqual(n, 40)
        self.assertEqual(pct, 75.0)
        self.assertEqual(sum(v > 30.0 for v in values), bench.TAIL_BEYOND)
        self.assertTrue(30.0 < value < 31.0, value)

    def test_tail_needs_enough_values(self):
        self.assertEqual(bench.tail([1.0] * 10), (None, None, 10))
        self.assertEqual(bench.tail([1.0] * 11)[2], 11)

    def test_quantile(self):
        self.assertAlmostEqual(bench.quantile([3.0, 1.0, 2.0], 0.5), 2.0)
        self.assertAlmostEqual(bench.quantile([2.5] * 7, 0.9), 2.5)
        self.assertAlmostEqual(bench.quantile(list(range(101)), 0.5), 50.0)
        self.assertTrue(math.isinf(bench.quantile([1.0, 2.0, math.inf], 0.5)))


def _result(keys_by_pass, traced=()):
    return {
        "cores": 4, "setup_s": 5.0, "peak_rss_mb": 900.0,
        "live_heap_mb": [300.0, 340.0],
        "passes": [{"pass": i, "traced": i in traced,
                    "wall_s": sum(k.get("wall_s", 0.0) for k in ks), "keys": ks}
                   for i, ks in enumerate(keys_by_pass)],
    }


class FailedKeyTest(unittest.TestCase):
    def test_thrown_key_is_failed_not_timed(self):
        ok = {"key": "a_1", "wall_s": 0.5}
        bad = {"key": "b_1", "failed_phase": "exec", "error": "boom"}
        r = _result([[ok, bad], [ok, dict(bad)]])
        failed = bench.failures(r, {})
        self.assertEqual(list(failed), ["b_1"])
        e2e, info = bench.end_to_end(r, failed, [5.0])
        self.assertEqual(e2e["failed_frac"], 0.5)
        self.assertTrue(math.isinf(e2e["key_geomean_s"]))
        self.assertTrue(math.isinf(e2e["pass_s"]))
        self.assertEqual(info["timings"], 4)

    def test_oracle_mismatch_counts_every_timing_as_missed(self):
        keys = [{"key": f"a_{i}", "wall_s": 0.1 * (i + 1)} for i in range(6)]
        r = _result([keys, keys])
        e2e, _ = bench.end_to_end(r, {"a_0": "values differ"}, [5.0])
        self.assertEqual(e2e["failed_frac"], 1 / 6)
        self.assertTrue(math.isinf(e2e["key_p50_s"]))

    def test_clean_run(self):
        keys = [{"key": f"a_{i}", "wall_s": 0.1 * (i + 1)} for i in range(6)]
        e2e, _ = bench.end_to_end(_result([keys, keys]), {}, [5.0, 4.0, 4.4])
        self.assertEqual(e2e["failed_frac"], 0.0)
        self.assertAlmostEqual(e2e["pass_s"], 2.1)
        self.assertEqual(e2e["setup_s"], 4.4)

    def test_wrong_count_is_failed(self):
        good = {"key": "a_1", "wall_s": 0.5, "rows_out": 3}
        wrong = {"key": "b_1", "wall_s": 0.5, "rows_out": 4}
        r = _result([[good, wrong], [good, dict(wrong, rows_out=5)]])
        failed = bench.failures(r, {}, {"a_1": 3, "b_1": 5})
        self.assertEqual(list(failed), ["b_1"])
        self.assertIn("counted 4 rows", failed["b_1"])


if __name__ == "__main__":
    unittest.main()
