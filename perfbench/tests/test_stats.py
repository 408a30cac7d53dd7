import math
import unittest

from _path import stats


class TailRule(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertEqual(stats.tail([1.0] * 10), (None, None, 10))

    def test_eleven_samples_give_the_minimum_with_ten_beyond(self):
        xs = [float(i) for i in range(11)]
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, n), (0.0, 11))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_hundred_samples_give_p90(self):
        xs = [float(i) for i in range(1, 101)]
        value, pct, n = stats.tail(list(reversed(xs)))
        self.assertEqual((value, pct, n), (90.0, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_always_exactly_ten_beyond_for_distinct_samples(self):
        for n in range(11, 200, 7):
            xs = [float(i) for i in range(n)]
            value, _, _ = stats.tail(xs)
            self.assertEqual(sum(1 for x in xs if x > value), 10)


class FailuresMissEveryLimit(unittest.TestCase):
    def test_failures_count_as_infinite_latency(self):
        self.assertEqual(stats.p50([1.0, 2.0, 3.0], n_failed=2), 3.0)
        self.assertTrue(math.isinf(stats.p50([1.0], n_failed=2)))

    def test_tail_with_failures_beyond_it(self):
        ok = [float(i) for i in range(20)]
        value, pct, n = stats.tail(ok, n_failed=5)
        self.assertEqual(n, 25)
        self.assertEqual(value, 14.0)   # 5 ok + 5 failed samples beyond

    def test_fixing_a_failure_never_raises_a_percentile(self):
        ok = [0.5, 0.7, 0.9, 1.1, 4.0, 0.2, 0.3, 0.6, 0.8, 1.0, 1.2, 1.3]
        for fixed_latency in (0.1, 1.0, 100.0):
            before = stats.p50(ok, n_failed=3)
            after = stats.p50(ok + [fixed_latency], n_failed=2)
            self.assertLessEqual(after, before)
            self.assertLessEqual(stats.tail(ok + [fixed_latency], 2)[0], stats.tail(ok, 3)[0])

    def test_failed_ratio(self):
        self.assertEqual(stats.failed_ratio(8, 2), 0.25)
        self.assertIsNone(stats.failed_ratio(0, 0))


if __name__ == "__main__":
    unittest.main()
