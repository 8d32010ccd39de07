"""Self-tests of the benchmark's percentile rule and result parsing.

Run: python3 perfbench/test_stats.py
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_no_percentile_below_ten_samples_beyond(self):
        # 50 samples: p90 leaves 5 beyond it, too few
        self.assertIsNone(stats.percentile_with_tail(list(range(50))))

    def test_p90_needs_ten_beyond(self):
        xs = [float(i) for i in range(100)]
        label, v = stats.percentile_with_tail(xs)
        self.assertEqual(label, "p90")
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_highest_qualifying_percentile_wins(self):
        xs = [float(i) for i in range(1000)]
        label, v = stats.percentile_with_tail(xs)
        self.assertEqual(label, "p99")
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_ties_at_the_percentile_do_not_count_as_beyond(self):
        xs = [1.0] * 95 + [2.0] * 5
        self.assertIsNone(stats.percentile_with_tail(xs))

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                               (8.25 - 2.75) / 5.5)


def line(**kw):
    obj = {"correct": True, "attempted": 4, "failed": 0,
           "metrics": {"setup_s": {"value": 1.25, "unit": "s"}}}
    obj.update(kw)
    return json.dumps(obj)


class ResultParsing(unittest.TestCase):
    def test_last_line_is_the_result(self):
        out = "perfbench elt_batch\n  setup_s: 1.25 s\n" + line() + "\n"
        r = stats.parse_result(out)
        self.assertEqual(r["metrics"]["setup_s"]["value"], 1.25)

    def test_extra_key_rejected(self):
        obj = json.loads(line())
        obj["extra"] = 1
        with self.assertRaises(ValueError):
            stats.parse_result(json.dumps(obj))

    def test_counts_must_be_whole_numbers(self):
        with self.assertRaises(ValueError):
            stats.parse_result(line(attempted=4.0))
        with self.assertRaises(ValueError):
            stats.parse_result(line(failed=True))
        with self.assertRaises(ValueError):
            stats.parse_result(line(attempted=0))

    def test_metric_needs_value_and_unit(self):
        with self.assertRaises(ValueError):
            stats.parse_result(line(metrics={"setup_s": {"value": 1.0}}))
        with self.assertRaises(ValueError):
            stats.parse_result(line(metrics={"setup_s": {"value": "1", "unit": "s"}}))

    def test_empty_output_rejected(self):
        with self.assertRaises(ValueError):
            stats.parse_result("\n\n")


if __name__ == "__main__":
    unittest.main()
