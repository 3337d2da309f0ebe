#!/usr/bin/env python3
"""Self-checks of the benchmark's own statistics and parsing.

    python3 perfbench/selftest.py
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402
import run  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2.0)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([7.25]), 7.25)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class PercentileTest(unittest.TestCase):
    def test_no_tail_below_forty_samples(self):
        self.assertIsNone(stats.percentile(range(39), 99))
        self.assertIsNone(stats.percentile([1.0] * 10, 50))

    def test_interpolates_between_closest_ranks(self):
        xs = list(range(1, 101))  # 1..100
        self.assertAlmostEqual(stats.percentile(xs, 99), 99.01)
        self.assertAlmostEqual(stats.percentile(xs, 50), 50.5)
        self.assertEqual(stats.percentile(list(range(40)), 50), 19.5)

    def test_order_free(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 8
        self.assertEqual(stats.percentile(xs, 90), stats.percentile(sorted(xs), 90))


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, name, start, end):
        return {"id": i, "parent": parent, "name": name,
                "start_ns": int(start * 1e9), "end_ns": int(end * 1e9)}

    def test_children_are_subtracted(self):
        spans = [self.span(0, -1, "pass", 0, 10),
                 self.span(1, 0, "query", 1, 4),
                 self.span(2, 1, "build", 1, 3),
                 self.span(3, 0, "query", 5, 9),
                 self.span(4, 3, "build", 5, 6)]
        t = stats.self_times(spans)
        self.assertAlmostEqual(t["pass"], 10 - 3 - 4)
        self.assertAlmostEqual(t["query"], (3 - 2) + (4 - 1))
        self.assertAlmostEqual(t["build"], 2 + 1)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(0, -1, "a", 0, 2), self.span(1, 0, "b", 1, 5)]
        t = stats.self_times(spans)
        self.assertAlmostEqual(t["a"], 1.0)
        self.assertAlmostEqual(t["b"], 4.0)

    def test_self_times_sum_to_root_time(self):
        spans = [self.span(0, -1, "r", 0, 8), self.span(1, 0, "x", 1, 3),
                 self.span(2, 1, "y", 2, 3), self.span(3, 0, "z", 4, 8)]
        self.assertAlmostEqual(sum(stats.self_times(spans).values()), 8.0)


class ResultLineTest(unittest.TestCase):
    def line(self, **kw):
        doc = {"correct": True, "attempted": 9, "failed": 0,
               "metrics": {"pass_s": {"value": 1.25, "unit": "s"}}}
        doc.update(kw)
        return json.dumps(doc)

    def test_round_trip(self):
        line = stats.format_result_line(True, 12, 0, {"pass_s": (3.5, "s"),
                                                      "peak_rss_mb": (900.125, "MB")})
        doc = stats.parse_result_line(line)
        self.assertEqual(doc["attempted"], 12)
        self.assertEqual(doc["metrics"]["peak_rss_mb"], {"value": 900.125, "unit": "MB"})

    def test_rejects_bad_lines(self):
        bad = [
            self.line(extra=1),
            self.line(attempted=0),
            self.line(attempted=True),
            self.line(attempted=2.5),
            self.line(failed=10),
            self.line(correct="yes"),
            self.line(metrics={"pass_s": {"value": 1.0}}),
            self.line(metrics={"pass_s": {"value": "1", "unit": "s"}}),
            self.line(metrics={"pass_s": {"value": float("nan"), "unit": "s"}}),
        ]
        for b in bad:
            with self.assertRaises(ValueError, msg=b):
                stats.parse_result_line(b)

    def test_printed_lines_parse(self):
        # the human lines before the result line are not JSON; the last is
        out = "metric pass_s 1.0 s\nhost {}\n" + self.line()
        self.assertTrue(stats.parse_result_line(out.splitlines()[-1])["correct"])


class CanonTest(unittest.TestCase):
    def test_values(self):
        self.assertEqual(run.canon(0.1 + 0.2), "0.30000000000000004")
        self.assertEqual(run.canon(None), "null")
        self.assertEqual(run.canon(b"\x00\xff"), "0x00ff")
        self.assertEqual(run.canon([1, [2.5, None]]), "[1,[2.5,null]]")
        self.assertEqual(run.canon({"a": 1, "b": [True]}), "{a:1,b:[True]}")


if __name__ == "__main__":
    unittest.main()
