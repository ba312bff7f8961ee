"""Statistics of tools/ab_pairs.py.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import ab_pairs  # noqa: E402


class AbPairsTest(unittest.TestCase):
    def test_seeds(self):
        self.assertEqual(ab_pairs.parse_seeds("341-344, 350,"), [341, 342, 343, 344, 350])

    def test_iqr_inclusive_quartiles(self):
        self.assertEqual(ab_pairs.iqr([1, 2, 3, 4, 5]), 2)
        self.assertEqual(ab_pairs.iqr([1.0, 2.0, 3.0, 4.0]), 1.5)
        self.assertEqual(ab_pairs.iqr([7.0]), 0.0)

    def test_pairs_won_follow_direction(self):
        parent, change = [1.0, 2.0, 3.0], [0.5, 2.0, 3.5]
        self.assertEqual(ab_pairs.pairs_won(parent, change, "lower"), 1)
        self.assertEqual(ab_pairs.pairs_won(parent, change, "higher"), 1)

    def test_summary(self):
        s = ab_pairs.summary([1.0, 1.2, 1.4, 1.6], [0.7, 0.8, 0.6, 0.9], "lower")
        self.assertAlmostEqual(s["parent"], 1.3)
        self.assertAlmostEqual(s["change"], 0.75)
        self.assertAlmostEqual(s["delta"], (0.75 - 1.3) / 1.3)
        self.assertEqual((s["won"], s["pairs"]), (4, 4))
        self.assertAlmostEqual(s["parent_iqr"], 0.3)

    def test_parse_run(self):
        out = ('query_wall_s: {"doc_lrs": 0.7, "doc_suffix_ranks": 0.66}\n'
               'wall_s: 2.1 s\n'
               '{"correct": true, "metrics": {"wall_s": {"value": 2.1, "unit": "s"}}}\n')
        result, walls = ab_pairs.parse_run(out)
        self.assertTrue(result["correct"])
        self.assertEqual(walls["doc_suffix_ranks"], 0.66)
        self.assertIsNone(ab_pairs.parse_run('{"correct": true, "metrics": {}}')[1])


if __name__ == "__main__":
    unittest.main()
