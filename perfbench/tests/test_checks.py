"""Tests of the output checks in run.py. Run from the repository root:
python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import run  # noqa: E402

MANIFEST = {"valid": 90, "quarantined": 10, "rows": 100,
            "countries": {"AUS": {"customers": 20}, "IND": {"customers": 10}}}


def etl_records(valid=90, view_rows=(20, 10)):
    return {
        "etl": [{"pass": 1, "valid": valid, "quarantined": 10, "countries": ["IND", "AUS"],
                 "views": ["VIEW_AUS", "VIEW_IND"]}],
        "verify": [{"name": "VIEW_AUS", "rows": view_rows[0]},
                   {"name": "VIEW_IND", "rows": view_rows[1]},
                   {"name": "warehouse", "rows": 90}, {"name": "quarantine_file", "rows": 10}]}


class Checks(unittest.TestCase):

    def test_query_matches_golden(self):
        recs = {"verify": [{"name": "q_a", "rows": 3, "hash": "ab-cd"},
                           {"name": "q_b", "rows": 1, "hash": "00-01"},
                           {"name": "q_c", "err": "boom"}]}
        goldens = {"q_a": {"rows": 3, "hash": "ab-cd"}, "q_b": {"rows": 1, "hash": "00-02"},
                   "q_c": {"rows": 1, "hash": "00-00"}}
        bad = run.check_query(recs, ["q_a", "q_b", "q_c", "q_d"], goldens)
        self.assertEqual(sorted(bad), ["q_b", "q_c", "q_d"])

    def test_etl_matches_manifest(self):
        self.assertEqual(run.check_etl(etl_records(), MANIFEST), ({}, {}))

    def test_etl_wrong_pipeline_count_fails_the_pass(self):
        bad_passes, bad_views = run.check_etl(etl_records(valid=89), MANIFEST)
        self.assertEqual(list(bad_passes), [1])

    def test_etl_wrong_view_rows(self):
        bad_passes, bad_views = run.check_etl(etl_records(view_rows=(20, 11)), MANIFEST)
        self.assertEqual((bad_passes, list(bad_views)), ({}, ["VIEW_IND"]))

    def test_etl_failed_pass(self):
        recs = etl_records()
        recs["etl"].append({"pass": 2, "err": "boom"})
        self.assertEqual(run.check_etl(recs, MANIFEST)[0], {2: "boom"})


if __name__ == "__main__":
    unittest.main()
