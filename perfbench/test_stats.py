"""Tests of the benchmark's statistics and span self time.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import stats


class MedianTailTest(unittest.TestCase):
    def test_median_even_count_is_mean_of_middle_two(self):
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_tail_under_twenty_samples_is_the_median(self):
        t = stats.tail([5.0, 1.0, 9.0, 3.0, 7.0])
        self.assertEqual((t["value"], t["pct"], t["n"], t["beyond"]), (5.0, 50, 5, 2))

    def test_tail_keeps_ten_samples_beyond(self):
        for n, pct in ((20, 50), (30, 66), (100, 90), (200, 95), (1000, 99)):
            values = [float(i) for i in range(1, n + 1)]
            t = stats.tail(values)
            self.assertEqual(t["pct"], pct, n)
            self.assertEqual(t["beyond"], 10, n)
            self.assertEqual(t["value"], float(n - 10), n)

    def test_tail_is_order_independent(self):
        values = [float((i * 37) % 101) for i in range(101)]
        self.assertEqual(stats.tail(values), stats.tail(sorted(values)))

    def test_mix_mean_weights_each_kinds_median(self):
        samples = {"a": [1.0, 100.0, 2.0], "b": [10.0, 11.0, 12.0, 1000.0]}
        self.assertEqual(stats.mix_mean(samples, {"a": 1, "b": 3}), (2.0 + 3 * 11.5) / 4)

    def test_empty_samples_raise(self):
        with self.assertRaises(ValueError):
            stats.median([])
        with self.assertRaises(ValueError):
            stats.tail([])


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(start, end):
        return {"start_ms": start, "end_ms": end}

    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25), (30, 30)]), 20)

    def test_self_time_without_children_is_the_duration(self):
        self.assertEqual(stats.self_time(self.span(100, 160), []), 60)

    def test_self_time_subtracts_overlapping_children_once(self):
        children = [self.span(110, 130), self.span(120, 140), self.span(150, 155)]
        self.assertEqual(stats.self_time(self.span(100, 160), children), 60 - 30 - 5)

    def test_children_are_clipped_to_the_span(self):
        children = [self.span(90, 110), self.span(150, 170), self.span(200, 210)]
        self.assertEqual(stats.self_time(self.span(100, 160), children), 60 - 10 - 10)


if __name__ == "__main__":
    unittest.main()
