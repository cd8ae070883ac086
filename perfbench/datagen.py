"""Seeded input generators for the benchmark.

Two families, both written only from ``seed`` so the same seed gives the same
bytes:

* ``write_star_schema`` — the TPC-H-ish star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables in the layout
  ``sources.tables.table`` reads (one Parquet file per table, same column
  names and types as the provisioned testdata).
* ``write_hhs_cms`` — weekly HHS capacity CSVs and one CMS quality CSV in the
  FIXTURES.md A1/A2 shapes: duplicate ``hospital_pk`` rows, ``-999999``
  sentinels, blank and NaN metrics, missing geocodes, state skew and the CMS
  rating/emergency-services value mix.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

# Row counts of one scale unit (about a fifth of the sf0.01 testdata).
STAR_SIZES = {
    "customer": 300,
    "supplier": 20,
    "part": 400,
    "orders": 3000,
    "lineitem": 12000,
    "events": 2000,
    "users": 30,
    "documents": 400,
    "embeddings": 400,
}
EMBED_DIM = 64


def _ts(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    days = rng.integers(lo, hi + 1, n)
    return (days * 86_400_000_000).astype("datetime64[us]")


def _money(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_star_schema(out_dir: str, seed: int) -> None:
    """Write the ten tables ``sources.tables.TABLES`` names into ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    n = STAR_SIZES
    os.makedirs(out_dir, exist_ok=True)
    i32 = pa.int32()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n["customer"], dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
        "c_acctbal": _money(-999.99, 9999.99, n["customer"], rng),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n["supplier"], dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
        "s_acctbal": _money(-999.99, 9999.99, n["supplier"], rng),
    })
    np_ = n["part"]
    _write(out_dir, "part", {
        "p_partkey": np.arange(np_, dtype="int64"),
        "p_name": [
            f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, np_), rng.choice(NOUNS, np_))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1),
    })
    no = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, n["customer"], no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(1000.0, 500000.0, no, rng),
        "o_orderdate": _ts("1995-01-01", "2001-08-01", no, rng),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    nl = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, np_, nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(900.0, 105000.0, nl, rng),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts("1995-01-02", "2001-11-04", nl, rng),
    })
    ne = n["events"]
    # strictly increasing microsecond timestamps over 30 days
    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // ne, ne)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": np.arange(ne, dtype="int64"),
        "ts": ts,
        "user_id": rng.integers(0, n["users"], ne),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(np.maximum(rng.exponential(50.0, ne), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    texts = []
    for i in range(n["documents"]):
        r = rng.random()
        if i > 10 and r < 0.03:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.06:  # near duplicate: earlier prefix + marker
            src = texts[int(rng.integers(0, i))].split(" ")
            texts.append(" ".join(src[: max(5, len(src) - 3)] + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": np.arange(len(texts), dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, len(texts)),
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })


# --------------------------------------------------------------------------
# HHS / CMS CSVs (FIXTURES.md A1 / A2)
# --------------------------------------------------------------------------

HHS_METRICS = (
    "all_adult_hospital_beds_7_day_avg",
    "all_pediatric_inpatient_beds_7_day_avg",
    "all_adult_hospital_inpatient_bed_occupied_7_day_avg",
    "all_pediatric_inpatient_bed_occupied_7_day_avg",
    "total_icu_beds_7_day_avg",
    "icu_beds_used_7_day_avg",
    "inpatient_beds_used_covid_7_day_avg",
    "staffed_icu_adult_patients_confirmed_covid_7_day_avg",
)
HHS_HEADER = (
    "hospital_pk", "state", "hospital_name", "address", "city", "zip",
    "fips_code", "geocoded_hospital_address", "collection_week", *HHS_METRICS,
)
CMS_HEADER = (
    "Facility ID", "Facility Name", "City", "State", "ZIP Code",
    "Hospital Ownership", "Emergency Services", "Hospital Type",
    "Hospital overall rating",
)
# Skewed toward CA/TX, as the real feed is.
STATES = ["CA", "TX", "FL", "NY", "PA", "IL", "OH", "GA", "NC", "MI", "WY", "VT"]
STATE_WEIGHTS = np.array([24, 18, 12, 9, 7, 6, 6, 5, 5, 4, 2, 2], dtype=float)
OWNERSHIP = ["Government - Federal", "Proprietary", "Voluntary non-profit - Private"]
HOSPITAL_TYPES = ["Acute Care Hospitals", "Critical Access Hospitals", "Childrens"]
EMERGENCY = ["Yes", "yes ", "NO", ""]
RATINGS = ["1", "2", "3", "4", "5", "Not Available", "", "6"]
RATING_WEIGHTS = np.array([10, 15, 20, 15, 10, 20, 5, 5], dtype=float)


def _hospitals(n: int, rng: np.random.Generator) -> list[dict]:
    states = rng.choice(STATES, n, p=STATE_WEIGHTS / STATE_WEIGHTS.sum())
    out = []
    for i, st in enumerate(states):
        city = int(rng.integers(0, 12))
        out.append({
            "hospital_pk": f"{i:06d}",
            "state": str(st),
            "hospital_name": f"HOSPITAL {i}",
            "address": f"{int(rng.integers(1, 9999))} MAIN ST",
            "city": f"CITY {st} {city}",
            "zip": f"{int(rng.integers(0, 2000)):05d}",
            # a function of (city, state): one fips per location natural key
            "fips_code": f"{STATES.index(st):02d}{city:03d}",
            "lon": round(float(rng.uniform(-124.0, -67.0)), 6),
            "lat": round(float(rng.uniform(25.0, 49.0)), 6),
            "size": float(rng.uniform(20.0, 900.0)),
        })
    return out


def _metric(base: float, rng: np.random.Generator) -> str:
    r = rng.random()
    if r < 0.02:
        return "-999999"
    if r < 0.05:
        return ""
    if r < 0.055:
        return "NaN"
    return f"{base * rng.uniform(0.2, 1.0):.1f}"


def write_hhs_cms(out_dir: str, seed: int, weeks: int, hospitals: int) -> dict:
    """Write ``weeks`` weekly HHS CSVs and one CMS quality CSV.

    Returns ``{"weeks": [(collection_week, path), ...], "cms": path,
    "rating_date": str}``."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    hosp = _hospitals(hospitals, rng)
    first = dt.date(2021, 1, 1) + dt.timedelta(weeks=int(rng.integers(0, 52)))
    files = []
    for w in range(weeks):
        week = (first + dt.timedelta(weeks=w)).isoformat()
        path = os.path.join(out_dir, f"hhs_{week}.csv")
        with open(path, "w", newline="") as f:
            wr = csv.writer(f)
            wr.writerow(HHS_HEADER)
            for h in hosp:
                geo = "" if rng.random() < 0.03 else f"POINT ({h['lon']} {h['lat']})"
                row = [h["hospital_pk"], h["state"], h["hospital_name"], h["address"],
                       h["city"], h["zip"], h["fips_code"], geo, week]
                metrics = [_metric(h["size"], rng) for _ in HHS_METRICS]
                wr.writerow(row + metrics)
                if rng.random() < 0.05:  # resubmitted row for the same pk
                    metrics[int(rng.integers(0, len(metrics)))] = _metric(h["size"], rng)
                    wr.writerow(row + metrics)
        files.append((week, path))

    cms_path = os.path.join(out_dir, "cms_quality.csv")
    with open(cms_path, "w", newline="") as f:
        wr = csv.writer(f)
        wr.writerow(CMS_HEADER)
        p_rating = RATING_WEIGHTS / RATING_WEIGHTS.sum()
        for h in hosp:
            if rng.random() < 0.1:
                continue  # facility absent from the quality release
            wr.writerow([
                h["hospital_pk"], h["hospital_name"], h["city"], h["state"], h["zip"],
                str(rng.choice(OWNERSHIP)), str(rng.choice(EMERGENCY)),
                str(rng.choice(HOSPITAL_TYPES)), str(rng.choice(RATINGS, p=p_rating)),
            ])
        for j in range(max(1, hospitals // 20)):  # ids the HHS feed never had
            st = str(rng.choice(STATES))
            wr.writerow([
                f"9{j:05d}", f"CLINIC {j}", f"CITY {st} 0", st, "00000",
                str(rng.choice(OWNERSHIP)), str(rng.choice(EMERGENCY)),
                str(rng.choice(HOSPITAL_TYPES)), str(rng.choice(RATINGS, p=p_rating)),
            ])
    rating_date = (first + dt.timedelta(weeks=weeks)).isoformat()
    return {"weeks": files, "cms": cms_path, "rating_date": rating_date}
