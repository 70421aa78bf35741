"""Unit tests of the benchmark's arithmetic: percentiles, spread, self
time, feed attribution and tallies.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from benchlib import layers, metrics, stats  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(stats.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 3.7)

    def test_edges(self):
        self.assertIsNone(stats.percentile([], 50))
        self.assertEqual(stats.percentile([7], 90), 7.0)

    def test_median_over_groups_ignores_one_outlying_group(self):
        groups = [[1.0, 2.0], [1.0, 2.0], [1.0, 9.0], []]
        self.assertAlmostEqual(stats.median_over_groups(groups, 90), 1.9)
        self.assertAlmostEqual(stats.median_over_groups(groups, 0), 1.0)

    def test_spread_matches_statistics_quartiles(self):
        xs = [1.0, 1.1, 1.2, 0.9, 1.05, 1.3, 0.95, 1.0, 1.15, 1.02]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 5), (1, 2)]), 5)
        self.assertEqual(stats.union_length([(3, 3), (4, 2)]), 0)

    def test_self_time_clips_children(self):
        # children cover [2,4] and [8,12] -> clipped [8,10]: 4 of 10 covered
        self.assertEqual(stats.self_time((0, 10), [(2, 4), (3, 4), (8, 12)]), 6)
        self.assertEqual(stats.self_time((0, 10), []), 10)
        self.assertEqual(stats.self_time((0, 10), [(20, 30)]), 10)

    def test_innermost_parent(self):
        cands = [(1, 0, 100), (2, 10, 20), (3, 12, 15)]
        self.assertEqual(stats.assign_parents([(13, 14), (11, 30), (50, 60), (200, 201)], cands),
                         [3, 2, 1, None])


class Feed(unittest.TestCase):
    def test_a_file_is_folded_by_the_first_call_started_after_it(self):
        calls = [(0, 5), (5, 9), (9, 20)]
        self.assertEqual(stats.fold_calls([-1, 0, 1, 5, 8, 9, 21], calls),
                         [0, 0, 1, 1, 2, 2, None])

    def test_freshness_from_creation_to_fold_end(self):
        files = [{"written_ms": 1000, "first_ms": 600, "spacing_ms": 200, "n": 3},
                 {"written_ms": 5000, "first_ms": 4500, "spacing_ms": 0, "n": 1}]
        calls = [(1500, 2500), (6000, 7000)]
        self.assertEqual(stats.freshness(files, calls), [1.9, 1.7, 1.5, 2.5])
        self.assertEqual(stats.freshness(files, calls[:1]), [1.9, 1.7, 1.5, None])

    def test_backlog_is_what_each_call_folds(self):
        files = [{"written_ms": w} for w in (1, 2, 3, 10)]
        self.assertEqual(stats.backlog_at_calls(files, [(0, 1), (2, 9), (9, 20)]), [0, 2, 1])

    def test_each_rung_reports_its_own_p90(self):
        manifest = {"rates": [102, 1020], "files": [
            {"step": -1, "written_ms": 0, "first_ms": 0, "spacing_ms": 0, "n": 5, "due_ms": 0},
            {"step": 0, "written_ms": 1000, "first_ms": 500, "spacing_ms": 0, "n": 1,
             "due_ms": 1000},
            {"step": 1, "written_ms": 2000, "first_ms": 1000, "spacing_ms": 0, "n": 2,
             "due_ms": 2000}]}
        record = {"report": {"feed_calls": [[1500, 3000], [3000, 5000]]}}
        fm = metrics.feed_metrics(record, (manifest, {}))
        self.assertEqual((fm["feed.p50_s"], fm["feed.p90_s"]), (2.5, 2.5))
        self.assertEqual(fm["feed.p90_10x_s"], 4.0)
        self.assertEqual((fm["feed.events"], fm["feed.backlog_files"]), (3, 1))


class Tallies(unittest.TestCase):
    def test_keys_use_the_utc_day_of_the_stamp(self):
        # 2024-01-01T23:59:59.999Z and one ms later
        self.assertEqual(stats.tally_key(1704153599999, 3, 4, 7), "2024-01-01|3|4|7")
        self.assertEqual(stats.tally_key(1704153600000, 3, 4, 7), "2024-01-02|3|4|7")

    def test_store_must_equal_tallies_exactly(self):
        want = {"2024-01-01|1|2|3": 5, "2024-01-01|1|2|4": 1}
        self.assertEqual(stats.tallies_match(want, [("2024-01-01", "1", "2", 3, 5),
                                                    ("2024-01-01", "1", "2", 4, 1)]), [])
        self.assertEqual(stats.tallies_match(want, [("2024-01-01", "1", "2", 3, 4),
                                                    ("2024-01-01", "1", "2", 4, 1),
                                                    ("2024-01-02", "0", "0", 0, 1)]),
                         ["2024-01-01|1|2|3", "2024-01-02|0|0|0"])


class Declared(unittest.TestCase):
    def test_benchmark_json_names_every_printed_metric(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([m["name"] for m in spec["end_to_end"]], list(metrics.END_TO_END))
        self.assertEqual([m["name"] for m in spec["per_layer"]], list(layers.PER_LAYER))
        units = metrics.units()
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertEqual(m["unit"], units[m["name"]], m["name"])


if __name__ == "__main__":
    unittest.main()
