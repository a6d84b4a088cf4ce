"""Unit tests of the benchmark's own statistics and span arithmetic.

    python3 -m unittest discover -s benchmark -p 'test_*.py'
"""
import statistics
import unittest

import layers
import stats


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))          # 1..100
        v, pct, n = stats.tail(xs)
        self.assertEqual((v, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_order_does_not_matter(self):
        xs = [float(x) for x in range(25, 0, -1)]    # 25..1
        v, pct, n = stats.tail(xs)
        self.assertEqual(v, 15.0)
        self.assertAlmostEqual(pct, 100 * 15 / 25)
        self.assertEqual(n, 25)

    def test_too_few_samples_for_a_tail_gives_the_median(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 12, 11]),
                         (6.5, 50.0, 12))
        self.assertEqual(stats.tail(list(range(20)))[1], 50.0)
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [0.9, 1.3, 1.1, 1.0, 1.2, 1.05, 0.95, 1.15, 1.25, 1.02]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)

    def test_single_value(self):
        self.assertEqual(stats.quartiles([2.0]), (2.0, 2.0, 2.0))
        self.assertEqual(stats.spread([2.0]), 0.0)


class VerdictTest(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]

    def test_gain_needs_nine_of_ten_wins_and_a_gap_beyond_the_spread(self):
        change = [x - 1.0 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1), "gain")
        # one loss and one tie: 8 wins of 10 is not a gain
        change[0] = self.parent[0] + 1
        change[1] = self.parent[1]
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1), "same")

    def test_gap_within_parent_spread_is_not_a_gain(self):
        change = [x - 0.01 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1), "same")

    def test_higher_is_better(self):
        change = [x + 1.0 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "higher", 0.1), "gain")
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.05), "regressed")

    def test_regression_beyond_bound(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1), "regressed")
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.25), "same")

    def test_unresolved_when_spread_exceeds_bound(self):
        noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        self.assertEqual(stats.verdict(self.parent, noisy, "lower", 0.1), "unresolved")
        # unless every change run beats every parent run
        self.assertEqual(
            stats.verdict(noisy, [1.0] * 10, "lower", 0.1), "gain")


class SpanTest(unittest.TestCase):
    def test_union_length_merges_overlaps(self):
        self.assertEqual(layers.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(layers.union_length([]), 0.0)

    def test_self_times_partition_the_query(self):
        sample = {"q": 1, "key": "k", "start": 0.0, "build_end": 40.0,
                  "end": 100.0,
                  "phases": {"analysis": [30.0, 40.0],
                             "optimization": [40.0, 45.0],
                             "planning": [45.0, 50.0]}}
        jobs = [{"id": 0, "phase": "build", "start": 10.0, "end": 20.0, "stage_ids": [0]},
                {"id": 1, "phase": "exec", "start": 60.0, "end": 90.0, "stage_ids": [1]}]
        stages = {0: {"submit": 11.0, "complete": 19.0,
                      "task_intervals": [[12.0, 18.0]]},
                  1: {"submit": 62.0, "complete": 88.0,
                      "task_intervals": [[63.0, 80.0], [70.0, 83.0]]}}
        writes = [{"start": 5.0, "end": 25.0}]
        spans = layers.query_spans(sample, jobs, stages, writes)
        parent = {s["id"]: s["parent"] for s in spans}
        name = {s["id"]: s["name"] for s in spans}
        self.assertEqual({name[s["id"]]: name.get(s["parent"]) for s in spans
                          if s["name"] not in ("job", "stage")},
                         {"query": None, "build": "query", "analysis": "build",
                          "optimization": "query", "planning": "query",
                          "exec": "query", "memo_write": "build"})
        job_parents = [name[parent[s["id"]]] for s in spans if s["name"] == "job"]
        self.assertEqual(job_parents, ["memo_write", "exec"])
        st = layers.self_times(spans)
        busy = 6.0 + 20.0                              # running tasks
        self.assertAlmostEqual(sum(st.values()) + busy, 100.0)
        by = {}
        for s in spans:
            by[s["name"]] = by.get(s["name"], 0.0) + st[s["id"]]
        self.assertAlmostEqual(by["exec"], 20.0)       # 50..100 minus job 60..90
        self.assertAlmostEqual(by["stage"], 2 + 6)     # stage minus running tasks
        self.assertAlmostEqual(by["query"], 0.0)


if __name__ == "__main__":
    unittest.main()
