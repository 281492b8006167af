"""Percentile rule, interval arithmetic and self time of the report.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import report  # noqa: E402


def span(i, name, start, end, parent=0, req="pb|search|1"):
    return dict(id=i, name=name, start=start, end=end, parent=parent, req=req)


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        value, pct = report.tail(list(range(1, 101)))
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in range(1, 101) if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 6, 4, 10, 11, 0, 12, 13, 14, 15, 16, 17, 18, 19]
        self.assertEqual(report.tail(xs), (9, 50.0))

    def test_below_twenty_samples_the_tail_is_the_maximum(self):
        self.assertEqual(report.tail([3, 1, 2]), (3, 100.0))
        self.assertEqual(report.tail(list(range(19))), (18, 100.0))

    def test_twenty_one_samples(self):
        self.assertEqual(report.tail(list(range(21))), (10, 100.0 * 11 / 21))


class SelfTimeTest(unittest.TestCase):
    def test_union_length_merges_overlaps(self):
        self.assertEqual(report.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(report.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(report.union_length([]), 0)

    def test_self_time_subtracts_covered_children(self):
        spans = [span(1, "search", 0, 100),
                 span(2, "construct", 0, 10, 1),
                 span(3, "execute", 20, 90, 1),
                 span(4, "job", 30, 60, 3), span(5, "job", 50, 80, 3)]
        st = report.self_times(spans)
        self.assertEqual(st, {1: 20, 2: 10, 3: 20, 4: 30, 5: 30})

    def test_children_outside_the_parent_are_clipped(self):
        st = report.self_times([span(1, "search", 10, 20), span(2, "job", 0, 15, 1)])
        self.assertEqual(st[1], 5)

    def test_listener_spans_find_their_innermost_parent(self):
        spans = [span(1, "search", 0, 100_000),
                 span(2, "execute", 10_000, 90_000, 1),
                 span(3, "job", 20_000, 50_000, 0),
                 span(4, "task", 21_000, 40_000, 0),
                 span(5, "job", 20_000, 50_000, 0, req="pb|search|2")]
        report.parent_listener_spans(spans)
        self.assertEqual([s["parent"] for s in spans], [0, 1, 2, 3, -1])

    def test_task_free_time(self):
        req = span(1, "search", 0, 100)
        tasks = [span(2, "task", 10, 30), span(3, "task", 20, 40), span(4, "task", 90, 120)]
        self.assertEqual(report.task_free_time(req, tasks), 60)


if __name__ == "__main__":
    unittest.main()
