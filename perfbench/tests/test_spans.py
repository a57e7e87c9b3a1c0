"""Self time from spans, and the digest the checks compare.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import spans  # noqa: E402


def span(sid, parent, name, start, end):
    return [sid, parent, name, start, end]


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(spans.self_times([span(1, 0, "op", 10, 50)]), {1: 40})

    def test_nested_children_are_subtracted_at_every_level(self):
        s = [span(1, 0, "op", 0, 100),
             span(2, 1, "construct", 10, 30),
             span(3, 1, "action", 40, 90),
             span(4, 3, "storage.append", 50, 70)]
        self.assertEqual(spans.self_times(s), {1: 30, 2: 20, 3: 30, 4: 20})

    def test_overlapping_children_count_once(self):
        s = [span(1, 0, "op", 0, 100),
             span(2, 1, "a", 10, 60),
             span(3, 1, "b", 40, 80),
             span(4, 1, "c", 45, 50)]
        self.assertEqual(spans.self_times(s)[1], 100 - 70)

    def test_children_sticking_out_are_clipped(self):
        s = [span(1, 0, "op", 20, 60), span(2, 1, "late", 50, 90), span(3, 1, "early", 0, 30)]
        self.assertEqual(spans.self_times(s)[1], 40 - 10 - 10)

    def test_self_by_name_sums_and_counts(self):
        s = [span(1, 0, "op", 0, 10), span(2, 0, "op", 20, 50), span(3, 2, "x", 25, 35)]
        self.assertEqual(spans.self_by_name(s), {"op": [30, 2], "x": [10, 1]})

    def test_ancestors_walk_to_the_root(self):
        s = [span(1, 0, "op.append", 0, 10), span(2, 1, "construct", 1, 5),
             span(3, 2, "action", 2, 3)]
        self.assertEqual(spans.ancestors(s)[3], {"op.append", "construct", "action"})
        self.assertEqual(spans.ancestors(s)[0], frozenset())

    def test_covered_merges_intervals(self):
        self.assertEqual(spans.covered([(0, 10), (5, 15), (20, 30)], 0, 25), 20)
        self.assertEqual(spans.covered([], 0, 25), 0)


class DigestTest(unittest.TestCase):
    def test_order_of_rows_and_columns_does_not_matter(self):
        a = check.digest(["b", "a"], [(1, "x"), (2, "y")])
        b = check.digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)

    def test_doubles_round_to_nine_decimals_without_negative_zero(self):
        self.assertEqual(check.cell(0.1), "0.100000000")
        self.assertEqual(check.cell(-1e-12), "0.000000000")
        self.assertEqual(check.cell(None), "\\N")
        self.assertEqual(check.cell(True), "true")
        self.assertEqual(check.cell(2.0000000004), check.cell(2.0000000001))


if __name__ == "__main__":
    unittest.main()
