"""Tests of the ETL input generator. Run from the repository root:
python3 -m unittest discover -s perfbench/tests
"""
import csv
import filecmp
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.join(HERE, "..", "..")
sys.path.insert(0, os.path.join(HERE, ".."))

import gen_etl  # noqa: E402

OPEN_DATE_SOURCES = ("Date of Vaccination", "VaccinationDate")


def recount(out_dir):
    """The manifest's tallies, recomputed from the written CSV files."""
    countries = {}
    for fname in sorted(os.listdir(out_dir)):
        if not fname.endswith(".csv"):
            continue
        with open(os.path.join(out_dir, fname), newline="") as f:
            rows = list(csv.DictReader(f))
        open_col = next(c for c in rows[0] if c in OPEN_DATE_SOURCES)
        id_col = "Unique ID" if "Unique ID" in rows[0] else "ID"
        valid = [r for r in rows if gen_etl.expected(r[open_col])[0]]
        countries[fname[:3]] = {
            "rows": len(rows), "valid": len(valid),
            "quarantined": len(rows) - len(valid),
            "customers": len({r[id_col] for r in valid})}
    return countries


class Generator(unittest.TestCase):

    def test_same_seed_same_bytes_and_manifest_matches_recount(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ma = gen_etl.generate(a, 11, 7200)
            gen_etl.generate(b, 11, 7200)
            names = sorted(os.listdir(a))
            self.assertEqual(names, sorted(os.listdir(b)))
            match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            counted = recount(a)
            for c, m in ma["countries"].items():
                self.assertEqual(
                    {k: m[k] for k in ("rows", "valid", "quarantined", "customers")},
                    counted[c], c)
            self.assertEqual(ma["valid"], sum(c["valid"] for c in counted.values()))
            self.assertEqual(ma["quarantined"], round(gen_etl.INVALID_RATE * ma["rows"]))

    def test_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen_etl.generate(a, 1, 3600)
            gen_etl.generate(b, 2, 3600)
            self.assertFalse(filecmp.cmp(os.path.join(a, "AUS_vaccinations.csv"),
                                         os.path.join(b, "AUS_vaccinations.csv"),
                                         shallow=False))

    def test_repeat_consultations_per_customer(self):
        with tempfile.TemporaryDirectory() as a:
            gen_etl.generate(a, 3, 3600)
            with open(os.path.join(a, "USA_vaccinations.csv"), newline="") as f:
                ids = [r["ID"] for r in csv.DictReader(f)]
            counts = {i: ids.count(i) for i in set(ids)}
            self.assertEqual(set(counts.values()), {gen_etl.REPEATS})

    def test_cache_reuses_a_complete_directory(self):
        with tempfile.TemporaryDirectory() as root:
            out, m1 = gen_etl.cached(root, 5, 3600)
            stamp = os.path.getmtime(os.path.join(out, "manifest.json"))
            out2, m2 = gen_etl.cached(root, 5, 3600)
            self.assertEqual((out, m1), (out2, m2))
            self.assertEqual(stamp, os.path.getmtime(os.path.join(out, "manifest.json")))


class DateClasses(unittest.TestCase):
    """Every date class the generator draws from has its verdict pinned by
    the engine's date-parser golden file."""

    def test_golden_pins_every_class(self):
        with open(os.path.join(ROOT, "src/test/resources/dateparser_golden.json")) as f:
            golden = json.load(f)
        seen = {c: 0 for c in gen_etl.DATE_CLASSES}
        for case in golden:
            cls = gen_etl.classify(case["in"])
            if cls is None:
                continue
            seen[cls] += 1
            ok, ymd = gen_etl.expected(case["in"])
            if ok:
                self.assertEqual(case.get("ok"), "%04d-%02d-%02d" % ymd, case)
            else:
                self.assertIn("err", case, case)
        self.assertTrue(all(seen.values()), seen)

    def test_rendered_strings_stay_in_their_class(self):
        import random
        rng = random.Random(0)
        for cls in gen_etl.DATE_CLASSES:
            for _ in range(200):
                self.assertEqual(gen_etl.classify(gen_etl.render(rng, cls, 1935, 2023)), cls)


class Layouts(unittest.TestCase):

    def test_reference_layouts_match_fixture_headers(self):
        fixtures = os.path.join(ROOT, "src/test/resources/vaccination")
        headers = []
        for fname in sorted(os.listdir(fixtures)):
            with open(os.path.join(fixtures, fname), newline="") as f:
                headers.append(next(csv.reader(f)))
        self.assertEqual(sorted(headers), sorted(gen_etl.LAYOUTS[:3]))

    def test_every_layout_column_is_in_the_column_map(self):
        with open(os.path.join(ROOT, "src/main/scala/graft/schema/Schemas.scala")) as f:
            src = f.read()
        body = src[src.index("val columnMap"):src.index("val mandatoryColumns")]
        mapped = dict(re.findall(r'"([^"]+)" -> "([^"]+)"', body))
        unmapped = {"Free or Paid"}  # dropped by the engine, as in the reference data
        for layout in gen_etl.LAYOUTS:
            self.assertEqual([c for c in layout if c not in mapped and c not in unmapped], [])
            targets = {mapped[c] for c in layout if c in mapped}
            self.assertTrue({"Customer_Id", "Customer_Name", "Open_Date"} <= targets)
        full = {mapped[c] for c in gen_etl.LAYOUTS[3] if c in mapped}
        self.assertEqual(full, set(mapped.values()))


if __name__ == "__main__":
    unittest.main()
