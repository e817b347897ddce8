"""Generators: determinism per seed, and the planted truth they write.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import random
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402


def write_all(d, seed):
    gen.write_varinfo(os.path.join(d, "v"), seed, 1)
    gen.write_ingest(os.path.join(d, "i"), seed, 2, 40, 20)
    return gen.digest(d)


class Determinism(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            self.assertEqual(write_all(a, 7), write_all(b, 7))

    def test_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            da, db = write_all(a, 7), write_all(b, 8)
            self.assertEqual(da.keys(), db.keys())
            for name in da:
                self.assertNotEqual(da[name], db[name], name)


class VarinfoTruth(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.dir = tempfile.TemporaryDirectory()
        cls.truth = gen.write_varinfo(cls.dir.name, 3, 1)

    @classmethod
    def tearDownClass(cls):
        cls.dir.cleanup()

    def test_shape(self):
        self.assertEqual(self.truth["columns"], 262)
        self.assertEqual(self.truth["prior_rows"], 420)

    def test_every_kind_is_planted(self):
        kinds = {r["kind"] for r in self.truth["rows"]}
        self.assertEqual(kinds, {"exact", "fuzzy", "rescue", "unmatched"})

    def test_fuzzy_rows_are_within_the_threshold(self):
        fuzzy = [r for r in self.truth["rows"] if r["kind"] == "fuzzy"]
        self.assertTrue(fuzzy)
        self.assertTrue(all(1 <= r["dist"] <= gen.MAX_DIST for r in fuzzy))

    def test_item_names_are_unique(self):
        items = [r["item"] for r in self.truth["rows"]]
        self.assertEqual(len(items), len(set(items)))

    def test_both_admin_namings(self):
        with open(os.path.join(self.dir.name, "prior.csv")) as f:
            header = f.readline()
        self.assertIn("SurveyAdminYear2023", header)
        self.assertIn("SurveyAdminYear.2024", header)

    def test_expected_stats(self):
        cols = [("A", "", "", "", "", ""), ("B", "", "", "", "", "")]
        truth = [{"col": "A", "kind": "exact"}, {"col": "A", "kind": "fuzzy"},
                 {"col": "B", "kind": "rescue"},
                 {"col": None, "kind": "unmatched"}]
        self.assertEqual(gen.expected_stats(cols, truth), {
            "totalVars": 3, "exact": 1, "fuzzy": 1, "unmatchedText": 2,
            "totalMatched": 2, "stillUnmatched": 1})


class IngestTruth(unittest.TestCase):

    def test_planted_duplicates_follow_their_sources(self):
        with tempfile.TemporaryDirectory() as d:
            t = gen.write_ingest(d, 5, 3, 60, 30)
            self.assertTrue(t["exact_dup_docs"] and t["exact_dup_vecs"])
            self.assertTrue(t["stitched_docs"])
            ids = t["doc_ids"] + t["vec_ids"]
            self.assertEqual(len(ids), len(set(ids)))
            # batch 0 holds only clean inputs
            first = set(t["doc_ids"][:60])
            self.assertFalse(first & set(t["exact_dup_docs"]))


class Levenshtein(unittest.TestCase):

    def test_banded_matches_full(self):
        rng = random.Random(0)
        for _ in range(2000):
            a = "".join(rng.choice("abc") for _ in range(rng.randint(0, 9)))
            b = "".join(rng.choice("abc") for _ in range(rng.randint(0, 9)))
            d = gen.levenshtein(a, b)
            for k in range(6):
                self.assertEqual(gen.levenshtein(a, b, k), min(d, k + 1))

    def test_known_distances(self):
        self.assertEqual(gen.levenshtein("kitten", "sitting"), 3)
        self.assertEqual(gen.levenshtein("", "abc"), 3)
        self.assertEqual(gen.levenshtein("flaw", "lawn", 1), 2)


if __name__ == "__main__":
    unittest.main()
