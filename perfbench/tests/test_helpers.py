"""Unit tests for the benchmark's helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import expect  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.quantile(xs, 0.5), 50)
        self.assertEqual(stats.quantile(xs, 0.9), 90)
        self.assertEqual(stats.quantile(xs, 1.0), 100)
        self.assertEqual(stats.quantile([7.0], 0.9), 7.0)
        self.assertEqual(stats.quantile([3, 1, 2], 0.5), 2)

    def test_empty_sample_refused(self):
        with self.assertRaises(ValueError):
            stats.quantile([], 0.5)

    def test_tail_needs_ten_beyond(self):
        self.assertIsNone(stats.tail_quantile(19))
        self.assertEqual(stats.tail_quantile(20), 0.5)
        self.assertEqual(stats.tail_quantile(99), 0.75)
        self.assertEqual(stats.tail_quantile(100), 0.9)
        self.assertEqual(stats.tail_quantile(200), 0.95)
        self.assertEqual(stats.tail_quantile(1000), 0.99)
        self.assertEqual(stats.tail_quantile(10_000), 0.999)

    def test_tail_rule_holds_for_every_n(self):
        for n in range(20, 3000, 7):
            q = stats.tail_quantile(n)
            xs = list(range(n))
            cut = stats.quantile(xs, q)
            beyond = sum(1 for x in xs if x > cut)
            self.assertGreaterEqual(beyond, 10, n)


class Geomean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([5.0]), 5.0)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4.0)

    def test_non_positive_refused(self):
        for bad in ([], [1, 0], [2, -1]):
            with self.assertRaises(ValueError):
                stats.geomean(bad)


class BoardCheck(unittest.TestCase):
    """Board rows are compared in tools/compare.py's canonical form."""

    def test_column_and_row_order_do_not_matter(self):
        import pandas as pd
        a = pd.DataFrame({"b": [1, 2], "a": ["x", "y"]})
        b = pd.DataFrame({"a": ["y", "x"], "b": [2, 1]})
        self.assertIsNone(expect.frame_mismatch(a, b))

    def test_integer_width_and_nulls_do_not_matter(self):
        import numpy as np
        import pandas as pd
        a = pd.DataFrame({"n": np.array([3, 4], dtype=np.int32), "v": [1.5, float("nan")]})
        b = pd.DataFrame({"n": np.array([3, 4], dtype=np.int64), "v": [1.5, None]})
        self.assertIsNone(expect.frame_mismatch(a, b))

    def test_differences_are_reported(self):
        import pandas as pd
        base = pd.DataFrame({"a": [1.0, 2.0]})
        self.assertIn("a[", expect.frame_mismatch(base, pd.DataFrame({"a": [1.0, 2.0 + 1e-12]})))
        self.assertIn("rows", expect.frame_mismatch(base, pd.DataFrame({"a": [1.0]})))
        self.assertIn("columns", expect.frame_mismatch(base, pd.DataFrame({"b": [1.0, 2.0]})))

    def test_duckdb_only_types_are_refused(self):
        import duckdb
        rel = duckdb.sql("SELECT sum(x) AS s, 1.5::DECIMAL(4,1) AS d, 2::BIGINT AS n "
                         "FROM range(3) t(x)")
        self.assertEqual(expect.type_lint(rel), ["s:HUGEINT", "d:DECIMAL(4,1)"])


class SelfTime(unittest.TestCase):
    def span(self, i, parent, s, e):
        return {"id": i, "parent": parent, "start_ns": s, "end_ns": e}

    def test_children_are_subtracted_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 40),
                 self.span(3, 1, 30, 60), self.span(4, 2, 15, 20)]
        own = stats.self_times(spans)
        self.assertEqual(own[1], 100 - 50)  # children cover [10, 60)
        self.assertEqual(own[2], 30 - 5)
        self.assertEqual(own[3], 30)
        self.assertEqual(own[4], 5)


class RequestMix(unittest.TestCase):
    META = {"first_us": gen.JAN_2024_US, "last_us": gen.JAN_2024_US + 20 * gen.DAY_US,
            "symbols": [f"S{i:03d}" for i in range(10)],
            "weights": [1 / (i + 1) for i in range(10)]}

    def test_same_seed_same_mix(self):
        self.assertEqual(gen.request_mix(7, self.META, 3), gen.request_mix(7, self.META, 3))

    def test_other_seed_other_mix(self):
        self.assertNotEqual(gen.request_mix(7, self.META, 3), gen.request_mix(8, self.META, 3))

    def test_op_order_is_fixed(self):
        for seed in (3, 4):
            mix = gen.request_mix(seed, self.META, 4)
            self.assertEqual([r["op"] for r in mix], gen.MIX_BLOCK * 4)

    def test_page_load_is_the_chart_page_request(self):
        page = [r for r in gen.request_mix(5, self.META, 2) if r["op"] == "ohlcv_page"]
        self.assertEqual(len(page), 2)
        for r in page:
            self.assertEqual(r["path"], "/ohlcv/ticks/1970-01-01/2100-01-01"
                                        "?symbols=S000&col=sym&price=price&size=size")

    def test_windows_lie_inside_the_table(self):
        for r in gen.request_mix(5, self.META, 5):
            if "from" in r["args"] and not r["op"].startswith("ohlcv_"):
                lo, hi = gen.parse_ts(r["args"]["from"]), gen.parse_ts(r["args"]["to"])
                self.assertLess(lo, hi)
                self.assertGreaterEqual(lo, self.META["first_us"] - gen.US)
                self.assertLessEqual(hi, self.META["last_us"])

    def test_dates_parse_as_midnight(self):
        self.assertEqual(gen.parse_ts("1970-01-02"), gen.DAY_US)
        self.assertEqual(gen.parse_ts("1970-01-02 00:00:01"), gen.DAY_US + gen.US)


class BenchmarkFile(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics run.py reports."""
    PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..", "BENCHMARK.json")

    @unittest.skipUnless(os.path.exists(PATH), "no BENCHMARK.json beside the benchmark")
    def test_metric_names_and_units(self):
        import json
        import run
        with open(self.PATH) as f:
            bm = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bm["per_layer"]}, run.LAYER_METRICS)
        self.assertEqual({m["name"]: m["unit"] for m in bm["end_to_end"]}, run.END_TO_END)
        for w in bm["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
