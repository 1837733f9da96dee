"""Seeded generator of the three flu feeds (RHINO CSV, census CSV, FluView
epidata JSON) plus the row and constraint-violation counts the pipeline
must produce from them.

The calendar is the MMWR (CDC epiweek) calendar: week 1 of a year is the
Sunday-to-Saturday week holding January 4, and a year has 52 or 53
weeks. The pipeline builds `epiweek_id` from the *Week End* year and the
raw *Week* number, so a season's last week ending on January 1-3 takes
the next year's number and can collide with a real week 52/53 of the
following season. The expected counts are derived from this calendar,
collisions included; no seed is excluded.

Run alone to inspect one input set:
    python3 perfbench/feedgen.py --seed 1 --out /path/to/dir
"""
import argparse
import datetime as dt
import json
import os
import random

ACH_TO_COUNTIES = {  # FluOps.achToCounties
    "Better Health Together": ["Spokane", "Stevens", "Pend Oreille", "Ferry"],
    "Cascade Pacific Action Alliance": ["Thurston", "Mason", "Grays Harbor", "Pacific", "Lewis"],
    "Elevate Health": ["Yakima", "Kittitas"],
    "Greater Health Now": ["Spokane"],
    "Healthier Here": ["King"],
    "North Sound": ["Whatcom", "Skagit", "Snohomish", "San Juan", "Island"],
    "Olympic Community of Health": ["Clallam", "Jefferson", "Kitsap"],
    "Southwest Washington": ["Clark", "Skamania", "Klickitat", "Cowlitz", "Wahkiakum"],
    "Thriving Together NCW": ["Chelan", "Douglas", "Grant", "Okanogan"],
}
WA_COUNTIES = [  # FluOps.waCounties
    "Adams", "Asotin", "Benton", "Chelan", "Clallam", "Clark", "Columbia", "Cowlitz",
    "Douglas", "Ferry", "Franklin", "Garfield", "Grant", "Grays Harbor", "Island",
    "Jefferson", "King", "Kitsap", "Kittitas", "Klickitat", "Lewis", "Lincoln",
    "Mason", "Okanogan", "Pacific", "Pend Oreille", "Pierce", "San Juan", "Skagit",
    "Skamania", "Snohomish", "Spokane", "Stevens", "Thurston", "Wahkiakum",
    "Walla Walla", "Whatcom", "Whitman", "Yakima"]
# dropped by FluOps.explodeRhino before the county explosion
FILTERED_LOCATIONS = ["Statewide", "Unassigned ACH Region"]
ILLNESSES = ["COVID-19", "Flu", "RSV"]
CARE_TYPES = ["Emergency Visits", "Hospitalizations"]
DEMOGRAPHICS = ["Overall", "Age 0-4", "Age 5-17", "Age 18-49", "Age 50-64",
                "Age 65+", "Female", "Male", "Hispanic", "Non-Hispanic"]

SEASONS = 3           # consecutive MMWR seasons, week 40 through week 39
FIRST_YEARS = range(2012, 2023)  # the seed picks the first season's year
BLANK_SHARE = 0.02    # "1-Week Percent " cells left blank (cleaned to null)
HEADER = ["Location", "Week Start", "Week End", "Week", "Season",
          "Respiratory Illness Category", "Care Type", "Demographic Category",
          "1-Week Percent "]


def mmwr_year_start(year):
    """Sunday that starts MMWR week 1 of `year`."""
    jan4 = dt.date(year, 1, 4)
    return jan4 - dt.timedelta(days=(jan4.weekday() + 1) % 7)


def mmwr_weeks(year):
    return (mmwr_year_start(year + 1) - mmwr_year_start(year)).days // 7


def week_start(year, week):
    return mmwr_year_start(year) + dt.timedelta(weeks=week - 1)


def season_weeks(first_year):
    """(year, week, season label) for SEASONS seasons of week 40..39."""
    out = []
    for s in range(SEASONS):
        y = first_year + s
        label = f"{y}-{y + 1}"
        out += [(y, w, label) for w in range(40, mmwr_weeks(y) + 1)]
        out += [(y + 1, w, label) for w in range(1, 40)]
    return out


def generate(seed, demographics=len(DEMOGRAPHICS)):
    """Return ({file name: text}, expected counts, input properties).

    `demographics` RHINO rows share each (week, location, illness, care)
    key; all but the first per exploded key are dropped by the dedup.
    """
    rng = random.Random(seed)
    demos = DEMOGRAPHICS[:demographics]
    first_year = rng.choice(list(FIRST_YEARS))
    weeks = season_weeks(first_year)
    locations = list(ACH_TO_COUNTIES) + FILTERED_LOCATIONS

    lines = [",".join(HEADER)]
    temporal_keys = set()   # (epiweek_id, start, end, season)
    illness_keys = set()    # (epiweek_id, county, illness, care)
    exploded = 0
    for (y, w, season) in weeks:
        start = week_start(y, w)
        end = start + dt.timedelta(days=6)
        epiweek_id = int(f"{end.year}{w:02d}")  # the pipeline's rule
        temporal_keys.add((epiweek_id, start, end, season))
        block = []
        for loc in locations:
            counties = ACH_TO_COUNTIES.get(loc, [])
            for ill in ILLNESSES:
                for care in CARE_TYPES:
                    base = rng.uniform(0.0, 12.0)
                    for demo in demos:
                        pct = ("" if rng.random() < BLANK_SHARE
                               else f"{max(0.0, base + rng.gauss(0, 1.5)):.1f}")
                        block.append([loc, start.isoformat(), end.isoformat(), str(w),
                                      season, ill, care, demo, pct])
                    exploded += len(counties) * len(demos)
                    for c in counties:
                        illness_keys.add((epiweek_id, c, ill, care))
        rng.shuffle(block)  # keep-first dedup depends on arrival order
        lines += [",".join(r) for r in block]
    rhino = "\n".join(lines) + "\n"

    census_rows = ["County Name,Population Density 2020,Land Area Sq Mi"]
    for c in WA_COUNTIES:
        census_rows.append(f"{c},{rng.uniform(2.0, 1000.0):.2f},{rng.uniform(150, 5300):.1f}")
    census = "\n".join(census_rows) + "\n"

    fluview_years = range(first_year, first_year + SEASONS + 1)
    records = []
    for y in fluview_years:
        for w in range(1, mmwr_weeks(y) + 1):
            records.append({"region": "wa", "epiweek": y * 100 + w,
                            "wili": round(rng.uniform(0.5, 9.0), 5)})
    fluview = json.dumps({"result": 1, "message": "success", "epidata": records})

    ids = [k[0] for k in temporal_keys]
    expected_rows = {
        "county_region": len(WA_COUNTIES),
        "temporal": len(temporal_keys),
        "illness": len(illness_keys),
        "healthcare": len(WA_COUNTIES),
        "historics": len(fluview_years),
    }
    expected_violations = {
        "county_region.pk": 0,
        "temporal.pk": sum(1 for i in set(ids) if ids.count(i) > 1),
        "illness.pk": 0,
        "healthcare.pk": 0,
        "historics.pk": 0,
        "illness.fk_county": 0,
    }
    props = {
        "seed": seed,
        "first_season": f"{first_year}-{first_year + 1}",
        "seasons": SEASONS,
        "weeks": len(weeks),
        "rhino_rows": len(lines) - 1,
        "exploded_rows": exploded,
        "demographic_values_per_key": len(demos),
        "duplicate_share_of_exploded": round(1 - len(illness_keys) / exploded, 4),
        "fluview_records": len(records),
        "epiweek_collisions": expected_violations["temporal.pk"],
    }
    files = {"rhino.csv": rhino, "census.csv": census, "fluview.json": fluview}
    return files, {"rows": expected_rows, "violations": expected_violations}, props


def write(seed, out_dir, demographics=len(DEMOGRAPHICS)):
    files, expected, props = generate(seed, demographics)
    os.makedirs(out_dir, exist_ok=True)
    for name, text in files.items():
        with open(os.path.join(out_dir, name), "w", encoding="utf-8") as f:
            f.write(text)
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump({"expected": expected, "input": props}, f, indent=1)
    return expected, props


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--demographics", type=int, default=len(DEMOGRAPHICS))
    a = ap.parse_args()
    print(json.dumps(write(a.seed, a.out, a.demographics)[1]))
