"""Determinism of the analytics table generator:
python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import unittest

import analytics_data


def rows(seed):
    return {name: t.to_pylist() for name, t in analytics_data.tables(seed).items()}


class AnalyticsDataTest(unittest.TestCase):
    def test_same_seed_same_rows_other_seed_other_rows(self):
        a = rows(5)
        self.assertEqual(a, rows(5))
        self.assertNotEqual(a["lineitem"], rows(6)["lineitem"])

    def test_dup_words_are_planted(self):
        docs = analytics_data.tables(5)["documents"].column("text").to_pylist()
        self.assertTrue(any("dup" in d.split(" ") for d in docs))


if __name__ == "__main__":
    unittest.main()
