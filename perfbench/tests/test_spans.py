"""Self-time and interval-union arithmetic of the per-layer report."""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from report import self_times, union_ms  # noqa: E402


def span(id, parent, start, end, name="x"):
    return {"id": id, "parent": parent, "op": 1, "name": name,
            "start_ns": start, "end_ns": end}


class UnionTest(unittest.TestCase):
    def test_disjoint_overlapping_nested_and_touching(self):
        self.assertEqual(union_ms([]), 0)
        self.assertEqual(union_ms([(0, 10), (20, 25)]), 15)
        self.assertEqual(union_ms([(0, 10), (5, 15)]), 15)
        self.assertEqual(union_ms([(0, 10), (2, 3)]), 10)
        self.assertEqual(union_ms([(10, 20), (0, 10)]), 20)


class SelfTimeTest(unittest.TestCase):
    def test_leaf_is_its_duration(self):
        self.assertEqual(self_times([span(1, 0, 100, 250)]), {1: 150})

    def test_disjoint_children_are_subtracted(self):
        st = self_times([span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60)])
        self.assertEqual(st[1], 70)
        self.assertEqual(st[2], 20)
        self.assertEqual(st[3], 10)

    def test_overlapping_children_count_once(self):
        st = self_times([span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 40, 70)])
        self.assertEqual(st[1], 40)

    def test_only_direct_children_and_clipped_to_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 20, 60), span(3, 2, 30, 40),
                 span(4, 1, 90, 130)]
        st = self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 10)

    def test_spans_of_other_ops_do_not_interfere(self):
        st = self_times([span(1, 0, 0, 100), span(2, 0, 50, 150), span(3, 2, 60, 70)])
        self.assertEqual(st[1], 100)
        self.assertEqual(st[2], 90)


if __name__ == "__main__":
    unittest.main()
