"""Ingest output checks on hand-made verdict files.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import checks  # noqa: E402
import gen  # noqa: E402


def write_verdicts(path, status):
    with open(path, "w") as f:
        for i in sorted(status):
            f.write(f"{i}\t{status[i]}\n")
    return path


class IngestChecks(unittest.TestCase):

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        d = self.dir.name
        self.truth = gen.write_ingest(os.path.join(d, "in"), 3, 2, 60, 30)
        dups = set(self.truth["exact_dup_docs"] + self.truth["exact_dup_vecs"])
        self.status = {i: ("exact" if i in dups else "accepted")
                       for i in self.truth["doc_ids"] + self.truth["vec_ids"]}
        first = (checks.ingested(self.truth, "doc_ids", 1) |
                 checks.ingested(self.truth, "vec_ids", 1))
        self.cold = {i: self.status[i] for i in first}

    def tearDown(self):
        self.dir.cleanup()

    def result(self, status, cold):
        d = self.dir.name
        unit = {"batches": 2, "replay_noop": True,
                "verdicts": write_verdicts(os.path.join(d, "u.tsv"), status),
                "verdicts_sha256": "x"}
        return {"units": [unit], "traced_units": [],
                "first_verdicts": write_verdicts(os.path.join(d, "c.tsv"),
                                                 cold)}

    def failed(self, status, cold):
        return [name for name, ok, _ in
                checks.ingest(self.result(status, cold), self.truth)
                if not ok]

    def test_consistent_run_passes(self):
        self.assertEqual(self.failed(self.status, self.cold), [])

    def test_accepted_exact_duplicate_fails(self):
        status = dict(self.status)
        status[self.truth["exact_dup_docs"][0]] = "accepted"
        self.assertEqual(self.failed(status, self.cold),
                         ["every planted exact duplicate quarantined, unit 0"])

    def test_missing_id_fails_the_partition(self):
        status = dict(self.status)
        del status[max(status)]
        self.assertEqual(
            self.failed(status, self.cold),
            ["accepted and quarantined partition the ids, unit 0"])

    def test_cold_batch_that_differs_fails_the_repetition(self):
        cold = dict(self.cold)
        cold[min(cold)] = "near"
        self.assertEqual(
            self.failed(self.status, cold),
            ["the cold batch 0 and its warm repeat give the same verdicts"])


if __name__ == "__main__":
    unittest.main()
