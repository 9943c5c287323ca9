"""Seeded generator of the per-country vaccination CSVs the ETL workload reads.

Standard library only. The output directory holds one CSV per country plus
`manifest.json`, the ground truth the benchmark checks `Pipeline.run`
against: valid and quarantined row counts and the distinct customers each
country view must show.

Stated shape of the data:
- every country file uses one of the four header layouts the engine's
  column map covers (`LAYOUTS`), assigned round-robin;
- every customer has exactly `REPEATS` rows (repeat consultations);
- exactly `round(INVALID_RATE * rows)` rows carry an invalid mandatory date
  (`Open_Date`), so they are quarantined;
- every date string comes from a class in `DATE_CLASSES`, whose verdict the
  engine's date-parser golden file pins down (the tests check this).

Usage: python3 gen_etl.py <out_dir> <seed> <rows>
"""
import csv
import json
import os
import random
import re
import sys

REPEATS = 3
INVALID_RATE = 0.04
COUNTRIES = ["AUS", "IND", "USA", "GBR", "CAN", "NZL",
             "BRA", "ZAF", "JPN", "DEU", "FRA", "MEX"]

# Header layouts over the engine's source->canonical column map: the three
# reference layouts (AUS-, IND- and USA-style) and one that carries every
# optional column, its own country column included.
LAYOUTS = [
    ["Unique ID", "Patient Name", "Vaccine Type", "Date of Birth",
     "Date of Vaccination"],
    ["ID", "Name", "DOB", "VaccinationType", "VaccinationDate", "Free or Paid"],
    ["ID", "Name", "VaccinationType", "VaccinationDate"],
    ["ID", "Name", "VaccinationType", "VaccinationDate", "Doctor Name",
     "State/Province", "Country", "Consultation Date", "DOB", "Postal Code"],
]
_D = r"(0[1-9]|1\d|2[0-8])"
_M = r"(0[1-9]|1[0-2])"
_Y = r"(19[3-9]\d|20[0-2]\d)"
# class -> (pattern, valid?). Valid classes parse month-first to (Y, M, D);
# invalid ones always error. Days stop at 28 so every month is valid.
DATE_CLASSES = {
    "mdy_slash": (rf"^{_M}/{_D}/{_Y}$", True),
    "mdy_dash": (rf"^{_M}-{_D}-{_Y}$", True),
    "mdy_compact": (rf"^{_M}{_D}{_Y}$", True),
    "iso": (rf"^{_Y}-{_M}-{_D}$", False),
    "month_13_plus": (rf"^(1[3-9])/{_D}/{_Y}$", False),
    "null_word": (r"^NULL$", False),
}
VALID = [c for c, (_, ok) in DATE_CLASSES.items() if ok]
INVALID = [c for c, (_, ok) in DATE_CLASSES.items() if not ok]


def classify(s):
    """The date class a string belongs to, or None."""
    for name, (pat, _) in DATE_CLASSES.items():
        if re.match(pat, s):
            return name
    return None


def expected(s):
    """(True, (y, m, d)) for a valid-class string, (False, None) otherwise."""
    cls = classify(s)
    if cls is None or not DATE_CLASSES[cls][1]:
        return False, None
    digits = re.sub(r"\D", "", s)
    return True, (int(digits[4:]), int(digits[:2]), int(digits[2:4]))


def render(rng, cls, year_lo, year_hi):
    y, m, d = rng.randint(year_lo, year_hi), rng.randint(1, 12), rng.randint(1, 28)
    return {
        "mdy_slash": f"{m:02d}/{d:02d}/{y}",
        "mdy_dash": f"{m:02d}-{d:02d}-{y}",
        "mdy_compact": f"{m:02d}{d:02d}{y}",
        "iso": f"{y}-{m:02d}-{d:02d}",
        "month_13_plus": f"{rng.randint(13, 19)}/{d:02d}/{y}",
        "null_word": "NULL",
    }[cls]


def generate(out_dir, seed, rows):
    """Write the CSVs and manifest.json into out_dir; returns the manifest."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    per_country = rows // len(COUNTRIES) // REPEATS * REPEATS
    total = per_country * len(COUNTRIES)
    invalid = set(rng.sample(range(total), round(INVALID_RATE * total)))
    # date strings are drawn from seeded pools, one random word per row
    # picking every field, which keeps generation fast in pure Python
    pool = lambda classes, lo, hi, n: [render(rng, rng.choice(classes), lo, hi)
                                       for _ in range(n)]
    opened = pool(VALID, 2020, 2023, 4096)
    bad_open = pool(INVALID, 2020, 2023, 256)
    born = pool(VALID + ["null_word"], 1935, 2005, 4096)
    consulted = pool(VALID, 2021, 2023, 4096)
    manifest = {"seed": seed, "rows": total, "repeats": REPEATS,
                "invalid_rate": INVALID_RATE, "countries": {}}
    row_no = 0
    for ci, country in enumerate(COUNTRIES):
        header = LAYOUTS[ci % len(LAYOUTS)]
        fname = f"{country}_vaccinations.csv"
        valid_customers, quarantined = set(), 0
        with open(os.path.join(out_dir, fname), "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(header)
            for n in range(per_country):
                r = rng.getrandbits(64)
                cust = f"{country}{n // REPEATS:07d}"
                if row_no in invalid:
                    quarantined += 1
                    open_dt = bad_open[(r >> 19) & 255]
                else:
                    valid_customers.add(cust)
                    open_dt = opened[(r >> 19) & 4095]
                row_no += 1
                values = {
                    "Unique ID": cust, "ID": cust,
                    "Patient Name": f"Patient {n // REPEATS * 7919 % 100000:05d}",
                    "Vaccine Type": ("ABC", "EFG", "LMN", "XYZ")[r & 3],
                    "Date of Vaccination": open_dt,
                    "Date of Birth": born[(r >> 31) & 4095],
                    "Consultation Date": consulted[(r >> 43) & 4095],
                    "Free or Paid": "FP"[(r >> 55) & 1],
                    "Doctor Name": f"Dr {(r >> 56) + 1}",
                    "State/Province": f"S{(r >> 25) % 30 + 1:02d}",
                    "Country": country,
                    "Postal Code": f"{(r >> 7) % 100000:05d}",
                }
                values["Name"] = values["Patient Name"]
                values["VaccinationType"] = values["Vaccine Type"]
                values["VaccinationDate"] = open_dt
                values["DOB"] = values["Date of Birth"]
                w.writerow([values[c] for c in header])
        manifest["countries"][country] = {
            "file": fname, "layout": ci % len(LAYOUTS), "rows": per_country,
            "valid": per_country - quarantined, "quarantined": quarantined,
            "customers": len(valid_customers)}
    manifest["valid"] = sum(c["valid"] for c in manifest["countries"].values())
    manifest["quarantined"] = sum(c["quarantined"] for c in manifest["countries"].values())
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def cached(cache_root, seed, rows):
    """Generate once per (seed, rows); manifest.json is written last, so its
    presence marks a complete directory."""
    out = os.path.join(cache_root, f"seed{seed}_rows{rows}")
    path = os.path.join(out, "manifest.json")
    if os.path.exists(path):
        with open(path) as f:
            return out, json.load(f)
    return out, generate(out, seed, rows)


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3])), indent=1))
