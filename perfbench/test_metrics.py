"""Tests for the benchmark's own metric rules.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import metrics


class TailTest(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        values = [float(i) for i in range(1, 101)]
        value, pct, n = metrics.tail(values)
        self.assertEqual(n, 100)
        self.assertEqual(value, 90.0)
        self.assertEqual(sum(v > value for v in values), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_of_samples_does_not_matter(self):
        values = [5.0, 1.0, 4.0, 2.0, 3.0] * 6
        self.assertEqual(metrics.tail(values), metrics.tail(sorted(values)))

    def test_percentile_rises_with_sample_count(self):
        _, p40, _ = metrics.tail(list(range(40)))
        _, p200, _ = metrics.tail(list(range(200)))
        self.assertAlmostEqual(p40, 75.0)
        self.assertAlmostEqual(p200, 95.0)

    def test_too_few_samples_for_a_tail_report_the_median(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (2.0, 50.0, 3))
        self.assertEqual(metrics.tail(list(range(21))), (10, 50.0, 21))
        self.assertEqual(metrics.tail([]), (0.0, 50.0, 0))

    def test_the_tail_is_above_the_median_from_22_samples(self):
        values = list(range(22))
        value, pct, _ = metrics.tail(values)
        self.assertEqual(value, 11)
        self.assertGreater(value, statistics.median(values))
        self.assertAlmostEqual(pct, 100.0 * 12 / 22)


class SpreadTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        values = [10.0, 10.2, 9.9, 10.4, 10.1, 9.8, 10.3, 10.0, 10.6, 9.7]
        q1, _, q3 = statistics.quantiles(values, n=4)
        self.assertAlmostEqual(metrics.quartile_spread(values),
                               (q3 - q1) / statistics.median(values))

    def test_constant_values_have_no_spread(self):
        self.assertEqual(metrics.quartile_spread([2.0] * 10), 0.0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            [1, 1, 0, "query", 0.0, 1000.0],
            [2, 1, 1, "construct", 0.0, 400.0],
            [3, 1, 2, "job", 100.0, 300.0],
            [4, 1, 2, "job", 200.0, 350.0],  # overlaps the first job
            [5, 1, 1, "exec", 500.0, 1000.0],
        ]
        s = metrics.self_times(spans)
        self.assertAlmostEqual(s["query"], 0.1)
        self.assertAlmostEqual(s["construct"], 0.15)
        self.assertAlmostEqual(s["job"], 0.35)
        self.assertAlmostEqual(s["exec"], 0.5)

    def test_unmeasured_roots_are_left_out(self):
        spans = [[1, 1, 0, "warm_query", 0.0, 10.0],
                 [2, 1, 1, "construct", 0.0, 5.0]]
        self.assertEqual(metrics.self_times(spans), {})


class FreshnessTest(unittest.TestCase):
    def test_chunks_map_to_the_first_batch_reaching_their_offset(self):
        chunks = [{"offset": 0, "due_ms": 1000.0},
                  {"offset": 1, "due_ms": 1250.0},
                  {"offset": 2, "due_ms": 1500.0},
                  {"offset": 3, "due_ms": 1750.0}]
        # batch 7 folded offsets 0-1, batch 8 offset 2, batch 9 offset 3;
        # progress arrives out of order
        progress = [{"batch": 9, "end_offset": 3},
                    {"batch": 7, "end_offset": 1},
                    {"batch": 8, "end_offset": 2}]
        batches = [{"batch": 7, "end_ms": 1600.0},
                   {"batch": 8, "end_ms": 2000.0},
                   {"batch": 9, "end_ms": 2100.0}]
        self.assertEqual(metrics.freshness(chunks, progress, batches),
                         [0.6, 0.35, 0.5, 0.35])

    def test_unfolded_chunk_is_reported_missing(self):
        chunks = [{"offset": 0, "due_ms": 0.0}, {"offset": 5, "due_ms": 0.0}]
        progress = [{"batch": 0, "end_offset": 0}]
        batches = [{"batch": 0, "end_ms": 100.0}]
        self.assertEqual(metrics.freshness(chunks, progress, batches),
                         [0.1, None])


if __name__ == "__main__":
    unittest.main()
