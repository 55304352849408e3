"""Percentile rule and span self-time arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics as M  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(M.percentile(v, 50), 50)
        self.assertEqual(M.percentile(v, 90), 90)
        self.assertEqual(M.percentile(v, 100), 100)
        self.assertEqual(M.percentile([7], 90), 7)

    def test_ten_samples_beyond(self):
        self.assertEqual(M.samples_beyond(100, 90), 10)
        self.assertEqual(M.samples_beyond(99, 90), 9)
        self.assertEqual(M.samples_beyond(20, 50), 10)
        self.assertEqual(M.samples_beyond(1000, 99), 10)

    def test_tail_refuses_short_samples(self):
        self.assertIsNone(M.tail(list(range(99)), 90))
        self.assertEqual(M.tail(list(range(1, 101)), 90), 90)
        # exactly ten samples lie beyond the reported value
        v = list(range(1, 101))
        self.assertEqual(sum(1 for x in v if x > M.tail(v, 90)), M.MIN_BEYOND)


class SelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end, name=None):
        return {"id": i, "name": name or "s%d" % i, "parent": parent,
                "start": start, "end": end}

    def test_leaf_self_time_is_its_duration(self):
        st = M.self_times([self.span(1, 0, 0, 10)])
        self.assertEqual(st[1], 10)

    def test_children_subtract_from_parent(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 1, 3), self.span(3, 1, 6, 7)]
        self.assertEqual(M.self_times(spans)[1], 10 - 2 - 1)

    def test_overlapping_children_count_once(self):
        # two threads under one parent: covered time is the union
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 1, 5), self.span(3, 1, 3, 8)]
        self.assertEqual(M.self_times(spans)[1], 10 - 7)

    def test_children_clip_to_parent(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 8, 14)]
        self.assertEqual(M.self_times(spans)[1], 8)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 0, 6), self.span(3, 2, 1, 5)]
        st = M.self_times(spans)
        self.assertEqual(st[1], 4)
        self.assertEqual(st[2], 2)
        self.assertEqual(st[3], 4)

    def test_self_time_by_name_sums(self):
        spans = [self.span(1, 0, 0, 4, "a"), self.span(2, 0, 10, 13, "a"),
                 self.span(3, 2, 11, 12, "b")]
        self.assertEqual(M.self_time_by_name(spans), {"a": 4 + 2, "b": 1})


if __name__ == "__main__":
    unittest.main()
