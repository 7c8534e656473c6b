"""Seeded synthetic inputs for the benchmark.

Two input families, both written under a directory the caller names
and both a pure function of ``(seed, scale)``: the same arguments give
byte-identical files.

- ``write_quickstats``: a Quick Stats bulk CSV (the 21 headers of
  ``plans.nass.QUICKSTATS_CSV_COLUMNS``) plus the matching
  ``usda_region`` crosswalk as parquet. States × counties × census
  years × commodity paths, each path with ``IRRIGATED`` variants and
  the four yield irrigation classes, about 8% ``(D)`` suppressed
  values, survey price rows, cash-rent rows, off-filter rows (other
  domains/periods), padded whitespace and exact duplicate lines so
  the trim + ``SELECT DISTINCT`` ingest has work to do.
- ``write_tables``: the star-schema tables the benchmark's summary
  queries read (``nation customer part orders lineitem events``), one
  parquet file each, shaped like the repository's test tables
  (TESTDATA.md): same columns and types, uniform keys.
"""

from __future__ import annotations

import csv
import io
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# Quick Stats
# --------------------------------------------------------------------------

_STATES = [
    ("06", "CA", "CALIFORNIA"), ("16", "ID", "IDAHO"), ("19", "IA", "IOWA"),
    ("17", "IL", "ILLINOIS"), ("20", "KS", "KANSAS"), ("31", "NE", "NEBRASKA"),
    ("38", "ND", "NORTH DAKOTA"), ("48", "TX", "TEXAS"),
]
_YEARS = ["2002", "2007", "2012", "2017"]
_ASD = ["10", "20", "30", "40", "50", "60", "70", "80", "90"]

#: (commodity, sub-path, production unit): 21 commodity paths up to
#: three levels deep, so the leaf rollups run several generations.
_PATHS = [
    ("CORN", "GRAIN", "BU"), ("CORN", "SILAGE", "TONS"),
    ("WHEAT", "WINTER", "BU"), ("WHEAT", "SPRING, (EXCL DURUM)", "BU"),
    ("WHEAT", "SPRING, DURUM", "BU"),
    ("HAY", "ALFALFA", "TONS"), ("HAY", "TAME, (EXCL ALFALFA)", "TONS"),
    ("HAY", "TAME, (EXCL ALFALFA), SMALL GRAIN", "TONS"), ("HAY", "WILD", "TONS"),
    ("COTTON", "UPLAND", "480 LB BALES"), ("COTTON", "PIMA", "480 LB BALES"),
    ("SOYBEANS", "", "BU"), ("RICE", "", "CWT"),
    ("BARLEY", "", "BU"), ("OATS", "", "BU"),
    ("SORGHUM", "GRAIN", "BU"), ("SORGHUM", "SILAGE", "TONS"),
    ("BEANS", "DRY EDIBLE, (EXCL CHICKPEAS)", "CWT"),
    ("BEANS", "DRY EDIBLE, (EXCL CHICKPEAS), LIMA", "CWT"),
    ("POTATOES", "", "CWT"), ("SUGARBEETS", "", "TONS"),
]
_YIELD_CLASSES = ["ENTIRE CROP", "PART OF CROP", "NONE OF CROP"]

QUICKSTATS_HEADER = [
    "Program", "Year", "Period", "Week Ending", "Geo Level", "State",
    "State ANSI", "Ag District", "Ag District Code", "County", "County ANSI",
    "Zip Code", "Region", "watershed_code", "Watershed", "Commodity",
    "Data Item", "Domain", "Domain Category", "Value", "CV (%)",
]


def _fmt(v: float) -> str:
    """NASS number formatting: integers with thousands separators."""
    return f"{int(round(v)):,}"


def quickstats_rows(seed: int, counties: int) -> tuple[list[list[str]], list[dict]]:
    """Quick Stats CSV rows and usda_region records for ``seed``."""
    rng = np.random.default_rng([seed, 7001])
    region = []
    geos = []  # (geolevel, state, fips, asd, asd_name, county, countycode)
    for fips, alpha, name in _STATES:
        geos.append(("STATE", name, fips, "", "", "", ""))
        for c in range(counties):
            code = f"{2 * c + 1:03d}"
            asd = _ASD[c * len(_ASD) // counties]
            asd_name = f"DISTRICT {asd}"
            county = f"COUNTY {alpha}{code}"
            region.append({
                "state_fips_code": fips, "county_code": code, "asd_code": asd,
                "county_name": county, "state_alpha": alpha, "asd_name": asd_name,
            })
            geos.append(("COUNTY", name, fips, asd, asd_name, county, code))

    rows: list[list[str]] = []

    def emit(program, year, geo, commodity, dataitem, value,
             domain="TOTAL", period="YEAR"):
        level, state, fips, asd, asd_name, county, code = geo
        rows.append([
            program, year, period, "", level, state, fips, asd_name, asd,
            county, code, "", "", "00000000", "", commodity, dataitem,
            domain, "NOT SPECIFIED", value, "",
        ])

    n_paths = len(_PATHS)
    for geo in geos:
        scale = 40.0 if geo[0] == "STATE" else 1.0
        for year in _YEARS:
            present = rng.random(n_paths) < 0.85
            acres = rng.lognormal(7.5, 1.0, n_paths) * scale
            irr_share = rng.random(n_paths)
            yld = rng.uniform(20, 200, (n_paths, 4))
            supp = rng.random((n_paths, 8)) < 0.08
            top_rep = rng.random(n_paths) < 0.3
            for i, (com, sub, unit) in enumerate(_PATHS):
                if not present[i]:
                    continue
                path = ", ".join(p for p in (com, sub) if p)
                s = supp[i]

                def val(x, k):
                    return "(D)" if s[k] else _fmt(x)

                emit("CENSUS", year, geo, com, f"{path} - ACRES HARVESTED", val(acres[i], 0))
                if irr_share[i] < 0.6:
                    emit("CENSUS", year, geo, com,
                         f"{path}, IRRIGATED - ACRES HARVESTED",
                         val(acres[i] * irr_share[i], 1))
                emit("CENSUS", year, geo, com,
                     f"{path} - PRODUCTION, MEASURED IN {unit}",
                     val(acres[i] * yld[i, 0], 2))
                emit("CENSUS", year, geo, com,
                     f"{path} - YIELD, MEASURED IN {unit} / ACRE",
                     "(D)" if s[3] else f"{yld[i, 0]:.1f}")
                for k, cls in enumerate(_YIELD_CLASSES):
                    if irr_share[i] < 0.6:
                        emit("CENSUS", year, geo, com,
                             f"{path}, IRRIGATED, {cls} - YIELD, MEASURED IN {unit} / ACRE",
                             "(D)" if s[4 + k] else f"{yld[i, k + 1]:.1f}")
                if sub and top_rep[i]:
                    # a reported parent total next to its derived leaf sum
                    emit("CENSUS", year, geo, com, f"{com} - ACRES HARVESTED",
                         val(acres[i] * 1.7, 7))
            # off-filter rows the stats views must skip
            emit("CENSUS", year, geo, "CORN", "CORN, GRAIN - ACRES HARVESTED",
                 _fmt(acres[0] * 0.5), domain="AREA HARVESTED")
            if geo[0] == "COUNTY":
                for kind in ("CROPLAND, IRRIGATED", "CROPLAND, NON-IRRIGATED", "PASTURELAND"):
                    emit("SURVEY", year, geo, "RENT",
                         f"RENT, CASH, {kind} - EXPENSE, MEASURED IN $ / ACRE",
                         f"{rng.uniform(20, 400):.1f}")
        if geo[0] == "STATE":
            for year in [str(y) for y in range(2000, 2020)]:
                price = rng.uniform(2, 300, n_paths)
                psupp = rng.random(n_paths) < 0.08
                for i, (com, sub, unit) in enumerate(_PATHS):
                    path = ", ".join(p for p in (com, sub) if p)
                    punit = unit.replace("480 LB BALES", "LB")
                    emit("SURVEY", year, geo, com,
                         f"{path} - PRICE RECEIVED, MEASURED IN $ / {punit}",
                         "(D)" if psupp[i] else f"{price[i]:.2f}")
                    emit("SURVEY", year, geo, com,
                         f"{path} - PRICE RECEIVED, MEASURED IN $ / {punit}",
                         f"{price[i] * 0.9:.2f}", period="MARKETING YEAR")

    # ingest noise: ~1% exact duplicate lines and ~2% padded fields
    n = len(rows)
    for j in rng.choice(n, size=n // 100, replace=False):
        rows.append(list(rows[j]))
    for j in rng.choice(len(rows), size=len(rows) // 50, replace=False):
        rows[j][16] = f" {rows[j][16]}  "
    order = rng.permutation(len(rows))
    return [rows[j] for j in order], region


def write_quickstats(out_dir: str, seed: int, counties: int) -> dict[str, str]:
    """Write ``quickstats.csv`` and ``usda_region.parquet``; return
    their paths."""
    rows, region = quickstats_rows(seed, counties)
    os.makedirs(out_dir, exist_ok=True)
    buf = io.StringIO()
    w = csv.writer(buf, quoting=csv.QUOTE_ALL, lineterminator="\n")
    w.writerow(QUICKSTATS_HEADER)
    w.writerows(rows)
    csv_path = os.path.join(out_dir, "quickstats.csv")
    with open(csv_path, "w", encoding="utf-8") as fh:
        fh.write(buf.getvalue())
    region_path = os.path.join(out_dir, "usda_region.parquet")
    pq.write_table(pa.Table.from_pylist(region), region_path)
    return {"quickstats": csv_path, "usda_region": region_path}


# --------------------------------------------------------------------------
# Star-schema tables for the query registry
# --------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_US_PER_DAY = 86_400_000_000


def _ts(base: str, micros: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + micros.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The registry tables the summary queries read, for ``seed`` at
    scale factor ``sf``."""
    rng = np.random.default_rng([seed, 4242])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = n_ord * 4
    n_ev = max(1000, int(1_000_000 * sf))
    t: dict[str, pa.Table] = {}
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(_P_ADJ, n_part), rng.choice(_P_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_P_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", days * _US_PER_DAY),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
    })
    ship = rng.integers(0, 2500, n_line)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
        "l_shipdate": _ts("1995-01-02", ship * _US_PER_DAY),
    })
    gaps = rng.exponential(30 * _US_PER_DAY / n_ev, n_ev)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(150, n_ev // 66), n_ev), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_ev).tolist(),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write the registry tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
