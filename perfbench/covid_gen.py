"""Seeded OWID-shaped COVID snapshots and their DuckDB golden check.

:func:`write_snapshots` writes K+1 daily snapshots ``day0 .. dayK`` of
the five source CSVs the pipeline extracts (FIXTURES.md §1). Snapshot
``k`` holds ``days + k`` days of history. Between snapshots the
generator revises a small share of earlier cells (OWID-style late
corrections spread across the whole history) and records every
revision, so a benchmark knows how many fact rows each day changed.

Source sparsity follows the real feeds: vaccinations for most
countries from mid-history on, hospital indicators for ~40% of
countries with gaps, weekly excess mortality for some locations, and a
few locations with no ISO mapping in ``excess_mortality`` and
``full_data``. About 5% of metric cells are empty and ~1% non-numeric.

:func:`check_enterprise` compares an enterprise table (Arrow) with an
independent DuckDB re-implementation of the Metrics_Fact contract over
one snapshot, cell by cell, and counts what differs.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import random
import string

START = dt.date(2020, 3, 1)
INDICATORS = [
    "Daily hospital occupancy",
    "Daily ICU occupancy",
    "Weekly new hospital admissions",
    "Weekly new ICU admissions",
]
HEADERS = {
    "owid_covid_data": ["location", "iso_code", "date", "stringency_index", "population",
                        "aged_65_older", "aged_70_older", "new_tests", "total_tests"],
    "vaccinations": ["iso_code", "date", "total_vaccinations", "daily_vaccinations", "total_boosters"],
    "hospitalizations": ["iso_code", "date", "indicator", "value"],
    "excess_mortality": ["location", "date", "excess_proj_all_ages"],
    "full_data": ["location", "date", "new_cases", "new_deaths", "total_cases",
                  "total_deaths", "weekly_cases", "weekly_deaths"],
}
# Revisable columns per source -> (kind, lo, hi); kind "i" integer, "dN" N decimals.
VALUE_COLS = {
    "owid_covid_data": {"stringency_index": ("d1", 0, 100), "new_tests": ("i", 100, 90_000),
                        "total_tests": ("i", 1_000, 5_000_000)},
    "vaccinations": {"total_vaccinations": ("i", 0, 50_000_000), "daily_vaccinations": ("i", 0, 800_000),
                     "total_boosters": ("i", 0, 10_000_000)},
    "hospitalizations": {"value": ("d2", 0, 5_000)},
    "excess_mortality": {"excess_proj_all_ages": ("d2", -50, 300)},
    "full_data": {"new_cases": ("i", 0, 60_000), "new_deaths": ("i", 0, 2_000),
                  "total_cases": ("i", 0, 5_000_000), "total_deaths": ("i", 0, 150_000),
                  "weekly_cases": ("i", 0, 300_000), "weekly_deaths": ("i", 0, 12_000)},
}


def _cell(rng: random.Random, spec: tuple, sparse: bool = True) -> str:
    kind, lo, hi = spec
    roll = rng.random() if sparse else 1.0
    if roll < 0.05:
        return ""
    if roll < 0.06 and kind == "i":
        return "N/A"
    if kind == "i":
        return str(rng.randint(lo, hi))
    return f"{rng.uniform(lo, hi):.{kind[1]}f}"


def _iso_codes(n: int, rng: random.Random) -> list[str]:
    codes = sorted({"".join(t) for t in zip(*(rng.choices(string.ascii_uppercase, k=4 * n) for _ in range(3)))})
    rng.shuffle(codes)
    return codes[:n]


def build_rows(locations: int, days: int, updates: int, seed: int):
    """Base rows for ``days + updates`` days: {source: {key: row}} where a
    key is (entity, day index[, indicator])."""
    rng = random.Random(seed)
    codes = _iso_codes(locations, rng)
    countries = [(f"Country {i:03d}", codes[i]) for i in range(locations)]
    unmapped = [f"Region {i}" for i in range(max(2, locations // 60))]
    total = days + updates
    rows: dict[str, dict[tuple, list[str]]] = {name: {} for name in HEADERS}
    for loc, iso in countries:
        pop = str(rng.randint(100_000, 1_400_000_000 // 16))
        a65, a70 = str(rng.randint(1, 27)), str(rng.randint(1, 18))
        vacc_from = days // 2 + rng.randint(-30, 60) if rng.random() < 0.85 else None
        hosp = rng.random() < 0.4
        for d in range(total):
            date = (START + dt.timedelta(days=d)).isoformat()
            spec = VALUE_COLS["owid_covid_data"]
            rows["owid_covid_data"][(iso, d)] = [
                loc, iso, date, _cell(rng, spec["stringency_index"]), pop, a65, a70,
                _cell(rng, spec["new_tests"]), _cell(rng, spec["total_tests"]),
            ]
            if vacc_from is not None and d >= vacc_from:
                rows["vaccinations"][(iso, d)] = [iso, date] + [
                    _cell(rng, s) for s in VALUE_COLS["vaccinations"].values()]
            if hosp:
                for ind in INDICATORS:
                    if rng.random() >= 0.10:
                        rows["hospitalizations"][(iso, d, ind)] = [
                            iso, date, ind, _cell(rng, VALUE_COLS["hospitalizations"]["value"])]
    for loc in [c[0] for c in countries] + unmapped:
        weekly_excess = rng.random() < 0.6
        for d in range(total):
            date = (START + dt.timedelta(days=d)).isoformat()
            if weekly_excess and d % 7 == 6:
                rows["excess_mortality"][(loc, d)] = [
                    loc, date, _cell(rng, VALUE_COLS["excess_mortality"]["excess_proj_all_ages"])]
            rows["full_data"][(loc, d)] = [loc, date] + [
                _cell(rng, s) for s in VALUE_COLS["full_data"].values()]
    return rows, dict(countries)


def _write_snapshot(out: str, rows: dict, n_days: int) -> None:
    os.makedirs(out, exist_ok=True)
    for name, header in HEADERS.items():
        with open(os.path.join(out, f"{name}.csv"), "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            w.writerows(r for k, r in rows[name].items() if k[1] < n_days)


def write_snapshots(root: str, locations: int, days: int, updates: int, seed: int,
                    correction_share: float = 0.003) -> dict:
    """Write ``root/day0 .. root/day{updates}`` and ``root/manifest.json``.

    Snapshot k ends on day ``days + k - 1``. Before writing snapshot
    k >= 1 a ``correction_share`` of each source's earlier rows gets one
    revised cell. Returns the manifest: snapshot dirs, run dates, CSV
    bytes, and per update the revisions and changed fact rows.
    """
    rows, loc_iso = build_rows(locations, days, updates, seed)
    rng = random.Random(seed + 1)
    manifest = {"locations": locations, "days": days, "updates": updates, "seed": seed,
                "correction_share": correction_share, "snapshots": []}
    for k in range(updates + 1):
        n_days = days + k
        revisions = []
        if k:
            for name, table in rows.items():
                keys = [key for key in table if key[1] < n_days - 1]
                for key in rng.sample(keys, int(len(keys) * correction_share)):
                    col, spec = rng.choice(list(VALUE_COLS[name].items()))
                    i = HEADERS[name].index(col)
                    old = table[key][i]
                    new = _cell(rng, spec, sparse=False)
                    table[key][i] = new
                    revisions.append([name, str(key[0]), key[1], col, old, new])
        out = os.path.join(root, f"day{k}")
        _write_snapshot(out, rows, n_days)
        changed = set()
        for name, entity, day, *_ in revisions:
            iso = entity if "iso_code" in HEADERS[name] else loc_iso.get(entity)
            if iso is not None:
                changed.add((iso, day))
        new_rows = sum(1 for key in rows["owid_covid_data"] if key[1] == n_days - 1)
        manifest["snapshots"].append({
            "dir": out,
            "run_date": (START + dt.timedelta(days=n_days)).isoformat(),
            "csv_bytes": sum(os.path.getsize(os.path.join(out, f"{n}.csv")) for n in HEADERS),
            "fact_rows": sum(1 for key in rows["owid_covid_data"] if key[1] < n_days),
            "revisions": len(revisions),
            "changed_fact_rows": len(changed) + (new_rows if k else 0),
        })
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


METRIC_COLS = [
    "New_cases", "New_deaths", "Total_cases", "Total_deaths", "Weekly_cases", "Weekly_deaths",
    "Daily_hospital_occupancy", "Daily_icu_occupancy", "Weekly_new_hospital_admissions",
    "Weekly_new_icu_admissions", "Total_vaccinations", "Daily_vaccinations",
    "Total_boosters_vaccinations", "New_tests", "Total_tests", "Projection_excess_death",
    "Stringency_index", "Population", "Aged_65_older_perc", "Aged_70_older_perc",
]


def _hosp(col: str, indicator: str) -> str:
    return (f"MAX(ROUND(TRY_CAST(value AS DOUBLE), 2)) FILTER (WHERE indicator = '{indicator}') AS {col}")


GOLDEN_SQL = f"""
WITH owid AS (
  SELECT location AS Location, iso_code AS CodeISO, CAST(date AS DATE) AS Date,
         ROUND(TRY_CAST(stringency_index AS DOUBLE), 1) AS Stringency_index,
         TRY_CAST(population AS INTEGER) AS Population,
         TRY_CAST(aged_65_older AS INTEGER) AS Aged_65_older_perc,
         TRY_CAST(aged_70_older AS INTEGER) AS Aged_70_older_perc,
         TRY_CAST(new_tests AS INTEGER) AS New_tests,
         TRY_CAST(total_tests AS INTEGER) AS Total_tests
  FROM owid_covid_data
), mapping AS (SELECT DISTINCT location, iso_code FROM owid_covid_data
), vac AS (
  SELECT iso_code, CAST(date AS DATE) AS Date,
         TRY_CAST(total_vaccinations AS INTEGER) AS Total_vaccinations,
         TRY_CAST(daily_vaccinations AS INTEGER) AS Daily_vaccinations,
         TRY_CAST(total_boosters AS INTEGER) AS Total_boosters_vaccinations
  FROM vaccinations
), hosp AS (
  SELECT iso_code, CAST(date AS DATE) AS Date,
         {_hosp("Daily_hospital_occupancy", INDICATORS[0])},
         {_hosp("Daily_icu_occupancy", INDICATORS[1])},
         {_hosp("Weekly_new_hospital_admissions", INDICATORS[2])},
         {_hosp("Weekly_new_icu_admissions", INDICATORS[3])}
  FROM hospitalizations GROUP BY 1, 2
), exc AS (
  SELECT m.iso_code, CAST(e.date AS DATE) AS Date,
         ROUND(TRY_CAST(e.excess_proj_all_ages AS DOUBLE), 2) AS Projection_excess_death
  FROM excess_mortality e JOIN mapping m ON e.location = m.location
), fd AS (
  SELECT m.iso_code, CAST(f.date AS DATE) AS Date,
         TRY_CAST(f.new_cases AS INTEGER) AS New_cases, TRY_CAST(f.new_deaths AS INTEGER) AS New_deaths,
         TRY_CAST(f.total_cases AS INTEGER) AS Total_cases, TRY_CAST(f.total_deaths AS INTEGER) AS Total_deaths,
         TRY_CAST(f.weekly_cases AS INTEGER) AS Weekly_cases, TRY_CAST(f.weekly_deaths AS INTEGER) AS Weekly_deaths
  FROM full_data f JOIN mapping m ON f.location = m.location
)
SELECT o.Location, o.CodeISO, o.Date,
       {", ".join(f"COALESCE({c}, 0) AS {c}" for c in METRIC_COLS)}
FROM owid o
LEFT JOIN fd   ON o.CodeISO = fd.iso_code   AND o.Date = fd.Date
LEFT JOIN exc  ON o.CodeISO = exc.iso_code  AND o.Date = exc.Date
LEFT JOIN vac  ON o.CodeISO = vac.iso_code  AND o.Date = vac.Date
LEFT JOIN hosp ON o.CodeISO = hosp.iso_code AND o.Date = hosp.Date
"""


def check_enterprise(raw_dir: str, enterprise) -> dict[str, int]:
    """Compare an enterprise table (a ``pyarrow.Table``) with the golden
    fact of the snapshot in ``raw_dir``. Returns mismatch counts; all
    zero means the table is correct."""
    import duckdb

    con = duckdb.connect()
    try:
        for name in HEADERS:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_csv('{raw_dir}/{name}.csv', header=true, all_varchar=true)")
        con.execute(f"CREATE TABLE golden AS {GOLDEN_SQL}")
        con.register("ent_arrow", enterprise)
        con.execute("CREATE TABLE ent AS SELECT * FROM ent_arrow")
        cols = ["Location", *METRIC_COLS]
        counts = con.execute("""
            SELECT
              (SELECT count(*) FROM golden),
              (SELECT count(*) FROM ent),
              (SELECT count(*) - count(DISTINCT (CodeISO, Date)) FROM ent),
              (SELECT count(*) - count(DISTINCT _SK_METRICS_FACT) FROM ent),
              (SELECT count(*) FROM golden g ANTI JOIN ent e USING (CodeISO, Date)),
              (SELECT count(*) FROM ent e ANTI JOIN golden g USING (CodeISO, Date))
        """).fetchone()
        cast = {c: "VARCHAR" if c == "Location" else "DOUBLE" for c in cols}
        per_col = con.execute("SELECT " + ", ".join(
            f"count(*) FILTER (WHERE CAST(g.{c} AS {cast[c]}) IS DISTINCT FROM CAST(e.{c} AS {cast[c]}))"
            for c in cols) + " FROM golden g JOIN ent e USING (CodeISO, Date)").fetchone()
    finally:
        con.close()
    keys = ("golden_rows", "table_rows", "dup_grain", "dup_keys", "missing_rows", "extra_rows")
    out = dict(zip(keys, (int(c) for c in counts)))
    out["mismatched_cells"] = int(sum(per_col))
    out["mismatched_cells_by_column"] = {c: int(n) for c, n in zip(cols, per_col) if n}
    return out


def mismatches(check: dict[str, int]) -> int:
    """Total defects a check found (0 = correct)."""
    return sum(check[k] for k in ("dup_grain", "dup_keys", "missing_rows", "extra_rows", "mismatched_cells"))
