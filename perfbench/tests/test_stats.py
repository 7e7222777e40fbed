"""Unit tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "start_ms": start, "end_ms": end, "name": name}


class TailTest(unittest.TestCase):
    def test_ten_samples_above_the_reported_one(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, above = stats.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(above, 10)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = list(range(30))
        xs.reverse()
        self.assertEqual(stats.tail(xs), (19, 100 * 20 / 30, 10))

    def test_twenty_two_samples_is_the_smallest_with_a_percentile_above_the_median(self):
        value, pct, above = stats.tail(list(range(22)))
        self.assertEqual((value, above), (11, 10))
        self.assertAlmostEqual(pct, 100 * 12 / 22)

    def test_fewer_samples_fall_back_to_the_maximum(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100.0, 0))
        self.assertEqual(stats.tail(list(range(10))), (9, 100.0, 0))
        self.assertEqual(stats.tail(list(range(21))), (20, 100.0, 0))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([span(0, -1, 10, 25)]), {0: 15})

    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 30, 50), span(3, 0, 70, 80)]
        own = stats.self_times(spans)
        self.assertEqual(own[0], 100 - 40 - 10)  # children cover [10,50] and [70,80]
        self.assertEqual(own[1], 30)

    def test_child_outside_the_parent_is_clipped(self):
        own = stats.self_times([span(0, -1, 0, 10), span(1, 0, 5, 20)])
        self.assertEqual(own[0], 5)

    def test_grandchildren_only_reduce_their_own_parent(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 0, 60), span(2, 1, 10, 30)]
        own = stats.self_times(spans)
        self.assertEqual((own[0], own[1], own[2]), (40, 40, 20))

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 5), (3, 8), (10, 12), (11, 11.5)]), 10)
        self.assertEqual(stats.union_length([]), 0)


if __name__ == "__main__":
    unittest.main()
