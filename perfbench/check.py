"""Output checks, run after the timed window.

Registry ops are compared with the registry's own DuckDB oracle SQL over the
same generated Parquet files: column names plus the order-insensitive multiset
of rows, with floats compared bit for bit (``repr``). The ingest lake is
compared with DuckDB run directly over the generated CSVs, re-deriving the
loader's semantics in SQL: per-file ``hospital_pk`` dedup in ``prep_hhs``'s
tie order, sentinel/NaN -> NULL, WKT parse, the CMS rating and yes/no parses,
the min-id location lookup and the exact (decimal-routed) summary sums.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
import os
from decimal import Decimal

import duckdb

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
NATURAL_KEY = ("city", "state", "zip_code", "address", "latitude", "longitude")


def _canon(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return f"d:{v}"
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    return f"{type(v).__name__}:{v}"


def digest(cols: list[str], rows) -> str:
    """Order-insensitive digest of a result: sorted column names, then the
    sorted multiset of canonical rows (columns taken in name order)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("|".join(sorted(cols)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def oracle_digests(sf_dir: str, tables: tuple[str, ...], oracles: dict[str, str]) -> dict:
    """Digest of each oracle query's DuckDB result; an exception is stored
    in place of the digest so the op counts as failed."""
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name, sql in oracles.items():
            try:
                res = con.execute(sql)
                out[name] = digest([d[0] for d in res.description], res.fetchall())
            except Exception as exc:  # noqa: BLE001 — recorded as a failed op
                out[name] = exc
        return out
    finally:
        con.close()


# --------------------------------------------------------------------------
# ingest lake
# --------------------------------------------------------------------------


def _csv(path: str) -> str:
    return f"read_csv('{path}', header=true, all_varchar=true, quote='\"', delim=',')"


def _prepped_sql(path: str) -> str:
    metrics = ",\n".join(
        f"CASE WHEN CAST({m} AS DOUBLE) = -999999 OR isnan(CAST({m} AS DOUBLE)) "
        f"THEN NULL ELSE CAST({m} AS DOUBLE) END AS {m}"
        for m in HHS_METRICS
    )
    wkt = "string_split(regexp_replace(substr(geocoded_hospital_address, 8), '\\)$', ''), ' ')"
    order = ", ".join(
        f"{c} ASC NULLS LAST"
        for c in ("collection_week", "hospital_name", "state", "address", "city",
                  "zip_code", "fips_code", "longitude", "latitude", *HHS_METRICS)
    )
    return f"""
    WITH raw AS (
      SELECT hospital_pk, state, hospital_name, address, city, zip AS zip_code,
             fips_code,
             CAST({wkt}[1] AS DOUBLE) AS longitude,
             CAST({wkt}[2] AS DOUBLE) AS latitude,
             CAST(collection_week AS DATE) AS collection_week,
             {metrics}
      FROM {_csv(path)}
    )
    SELECT * EXCLUDE (rn) FROM (
      SELECT *, row_number() OVER (PARTITION BY hospital_pk ORDER BY {order}) AS rn
      FROM raw) WHERE rn = 1
    """


def _rows(con, sql: str) -> tuple[list[str], list]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def _same(con, got_sql: str, want_sql: str) -> bool:
    g, w = _rows(con, got_sql), _rows(con, want_sql)
    return sorted(g[0]) == sorted(w[0]) and digest(*g) == digest(*w)


def _lake(path: str) -> str:
    return f"read_parquet('{os.path.realpath(path)}/**/*.parquet', hive_partitioning=true)"


def check_ingest(lake: str, files: dict) -> tuple[list[tuple[int, int, int]], list[str]]:
    """DuckDB over the CSVs. Returns the rows each weekly load must append to
    (location, hospital, weekly_report) when the weeks load in order into an
    empty lake, and the names of the lake's tables, after one full pass, that
    differ from what the CSVs imply."""
    con = duckdb.connect()
    try:
        weeks = [p for _, p in files["weeks"]]
        con.execute("CREATE TEMP TABLE prepped AS " + " UNION ALL ".join(
            f"SELECT {i} AS file_no, * FROM ({_prepped_sql(p)})" for i, p in enumerate(weeks)))
        key = "concat_ws('|', " + ", ".join(
            f"coalesce(CAST({c} AS VARCHAR), '~')" for c in NATURAL_KEY) + ")"
        appends = [con.execute(f"""
            SELECT (SELECT count(DISTINCT {key}) FROM prepped WHERE file_no = {i}
                      AND {key} NOT IN (SELECT {key} FROM prepped WHERE file_no < {i})),
                   (SELECT count(*) FROM prepped WHERE file_no = {i}
                      AND hospital_pk NOT IN
                          (SELECT hospital_pk FROM prepped WHERE file_no < {i})),
                   (SELECT count(*) FROM prepped WHERE file_no = {i})""").fetchone()
            for i in range(len(weeks))]
        return [tuple(a) for a in appends], _lake_diffs(con, lake, files)
    finally:
        con.close()


def _lake_diffs(con, lake: str, files: dict) -> list[str]:
    """Tables of the lake that differ from the ``prepped`` view of the CSVs."""
    bad = []
    loc = _lake(f"{lake}/location")
    hosp = _lake(f"{lake}/hospital")
    cols = "city, state, zip_code, address, latitude, longitude, fips_code"
    if not _same(con, f"SELECT {cols} FROM {loc}",
                 f"SELECT DISTINCT {cols} FROM prepped"):
        bad.append("location")
    ids = con.execute(f"SELECT count(*), count(DISTINCT id), count(id) FROM {loc}").fetchone()
    if not ids[0] == ids[1] == ids[2]:
        bad.append("location.id")
    if not _same(
        con,
        f"SELECT h.hospital_pk, h.hospital_name, {', '.join('l.' + c for c in NATURAL_KEY)} "
        f"FROM {hosp} h LEFT JOIN {loc} l ON h.location_id = l.id",
        f"SELECT hospital_pk, hospital_name, {', '.join(NATURAL_KEY)} FROM prepped "
        "QUALIFY row_number() OVER (PARTITION BY hospital_pk ORDER BY file_no) = 1",
    ):
        bad.append("hospital")
    mcols = ", ".join(HHS_METRICS)
    if not _same(
        con,
        f"SELECT hospital_weekly_id, CAST(collection_week AS DATE) AS collection_week, "
        f"{mcols} FROM {_lake(f'{lake}/weekly_report')}",
        f"SELECT hospital_pk AS hospital_weekly_id, collection_week, {mcols} FROM prepped",
    ):
        bad.append("weekly_report")
    rating = ("CASE WHEN regexp_full_match(trim(\"Hospital overall rating\"), '[0-9]+') "
              "AND CAST(trim(\"Hospital overall rating\") AS INTEGER) BETWEEN 1 AND 5 "
              "THEN CAST(trim(\"Hospital overall rating\") AS INTEGER) END")
    if not _same(
        con,
        "SELECT facility_id, facility_name, city, state, zip_code, ownership, "
        "hospital_type, quality_rating, provides_emergency_services, rating_date, "
        f"location_id FROM {_lake(f'{lake}/hospital_quality')}",
        f"""SELECT q."Facility ID" AS facility_id, q."Facility Name" AS facility_name,
               q."City" AS city, q."State" AS state, q."ZIP Code" AS zip_code,
               q."Hospital Ownership" AS ownership, q."Hospital Type" AS hospital_type,
               {rating} AS quality_rating,
               CASE WHEN q."Emergency Services" IS NOT NULL
                    THEN lower(trim(q."Emergency Services")) = 'yes' END
                 AS provides_emergency_services,
               DATE '{files["rating_date"]}' AS rating_date, m.location_id
        FROM {_csv(files["cms"])} q LEFT JOIN (
          SELECT city, state, zip_code, min(id) AS location_id FROM {loc}
          GROUP BY ALL) m
        ON q."City" = m.city AND q."State" = m.state AND q."ZIP Code" = m.zip_code""",
    ):
        bad.append("hospital_quality")

    def dsum(c: str) -> str:
        return f"CAST(CAST(sum(CAST({c} AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)"

    if not _same(
        con,
        f"SELECT * FROM {_lake(f'{lake}/state_summary')}",
        f"""SELECT state, CAST(count(*) AS BIGINT) AS n_reports,
               CAST(count(DISTINCT hospital_pk) AS BIGINT) AS n_hospitals,
               {dsum('total_icu_beds_7_day_avg')} AS icu_beds,
               {dsum('icu_beds_used_7_day_avg')} AS icu_beds_used,
               max(collection_week) AS last_week
        FROM prepped GROUP BY state""",
    ):
        bad.append("state_summary")
    return bad
