"""Tests of the benchmark's own statistics: python3 -m unittest discover perfbench"""
import unittest

import stats


class MedianTest(unittest.TestCase):
    def test_odd_and_even_counts(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([7.0]), 7.0)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class TailTest(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        values = list(range(1, 101))
        self.assertEqual(stats.tail(values), (90, 90))

    def test_thirty_six_samples_give_p72(self):
        # nearest rank 26: exactly ten samples lie above it
        pct, v = stats.tail(list(range(1, 37)))
        self.assertEqual((pct, v), (72, 26))

    def test_ten_samples_always_lie_beyond(self):
        for n in range(20, 400):
            pct, v = stats.tail(list(range(n)))
            beyond = sum(1 for x in range(n) if x > v)
            self.assertGreaterEqual(beyond, 10, n)
            # one percentile higher would leave fewer than ten beyond
            if pct < 99:
                higher = sorted(range(n))[-(-(pct + 1) * n // 100) - 1]
                self.assertLess(sum(1 for x in range(n) if x > higher), 10, n)

    def test_too_few_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail([5, 1, 3]), (50, 3))
        self.assertEqual(stats.tail(list(range(19))), (50, 9))

    def test_order_does_not_matter(self):
        values = [0.3, 0.1, 0.9, 0.5] * 10
        self.assertEqual(stats.tail(values), stats.tail(sorted(values)))


class IntervalTest(unittest.TestCase):
    def test_union_counts_overlaps_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)

    def test_union_of_nested_and_touching_spans(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_union_ignores_empty_spans(self):
        self.assertEqual(stats.union_length([(5, 5), (7, 6)]), 0)
        self.assertEqual(stats.union_length([]), 0)

    def test_driver_gap_is_the_uncovered_part_of_the_action(self):
        # action 100..200; jobs cover 110..150 and 140..180 -> 70 covered
        self.assertEqual(stats.driver_gap((100, 200), [(110, 150), (140, 180)]), 30)

    def test_driver_gap_clips_jobs_to_the_action(self):
        # a job that started before the action counts only from its start
        self.assertEqual(stats.driver_gap((100, 200), [(50, 120), (190, 260)]), 70)

    def test_driver_gap_without_jobs_is_the_whole_action(self):
        self.assertEqual(stats.driver_gap((100, 130), []), 30)


if __name__ == "__main__":
    unittest.main()
