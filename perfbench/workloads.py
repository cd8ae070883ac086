"""The benchmark's workloads.

A workload is a list of ops; an op is what a user waits for. ``report`` and
``stream`` ops are registry queries (builder call + collect).
``ingest`` ops are the reference's load path over generated CSVs, run in file
order against a lake that is emptied before each pass.
"""

from __future__ import annotations

import os
import shutil

REGISTRY_OPS = {
    # The analyst's weekly report page (weekly-report.py:269-403) plus star
    # joins: builders, schema inference, exact decimal sums, shuffle width.
    "report": (
        "flagship_utilization",
        "r5_sum_by_state",
        "tpch_q1_pricing_summary",
    ),
    # A bounded availableNow drain run for real: staged files, one per
    # micro-batch, applyInPandasWithState carrying per-user session state
    # (state store, WAL and offset commits, Arrow Python workers).
    "stream": ("stream_stateful_sessionize",),
}

# Ingest input size: weekly files per pass and hospitals per file. One week
# keeps a run within the benchmark's time budget; the re-load and the CMS load
# still read the lake the week wrote.
INGEST_WEEKS = 1
INGEST_HOSPITALS = 300

LOCATION_KEY = ["city", "state", "zip_code", "address", "latitude", "longitude"]


class Ingest:
    """The load path of load-hhs.py / load-quality.py, one method per op.

    Each weekly load reads one HHS CSV, preps it once (cached, as the
    reference holds its prepped frame), splits it into the three tables and
    appends the new keys of each. ``tracer`` (or None) wraps each sink call
    in a span while the tracer is active."""

    def __init__(self, spark, eng, lake: str, files: dict, tracer=None):
        self.spark, self.eng, self.lake, self.files = spark, eng, lake, files
        self.tracer = tracer

    def reset(self) -> None:
        shutil.rmtree(self.lake, ignore_errors=True)
        os.makedirs(self.lake)

    def ops(self) -> list[tuple[str, callable]]:
        weeks = [
            (f"load_week_{i + 1}", lambda p=path: self.load_week(p))
            for i, (_, path) in enumerate(self.files["weeks"])
        ]
        first = self.files["weeks"][0][1]
        return weeks + [
            ("load_cms", self.load_cms),
            ("reload_week_1", lambda: self.load_week(first)),
            ("publish_summary", self.publish_summary),
        ]

    def _append(self, df, table: str, keys: list[str], partition_by=None) -> int:
        path = os.path.join(self.lake, table)
        sinks = self.eng.sinks
        if self.tracer is None or not self.tracer.active:
            return sinks.append_new_keys(self.spark, df, path, keys, partition_by)
        offered = df.count()  # outside the sink span: a count the loader never runs
        with self.tracer.span("sinks.append_new_keys", jobs=True) as sp:
            n = sinks.append_new_keys(self.spark, df, path, keys, partition_by)
        sp["rows_offered"], sp["rows_appended"] = offered, n
        return n

    def load_week(self, path: str) -> tuple[int, int, int]:
        ing = self.eng.ingest
        prepped = ing.prep_hhs(self.eng.csvsrc.read_hhs_weekly(self.spark, path)).cache()
        try:
            location = ing.split_location(prepped)
            n_loc = self._append(location, "location", LOCATION_KEY)
            n_hosp = self._append(
                ing.split_hospital(prepped, location), "hospital", ["hospital_pk"])
            n_week = self._append(
                ing.split_weekly_report(prepped), "weekly_report",
                ["hospital_weekly_id", "collection_week"], ["collection_week"])
        finally:
            prepped.unpersist()
        return n_loc, n_hosp, n_week

    def load_cms(self) -> int:
        ing = self.eng.ingest
        raw = self.eng.csvsrc.read_cms_quality(self.spark, self.files["cms"])
        quality = ing.cms_location_lookup(
            ing.normalize_cms(raw, self.files["rating_date"]),
            self.spark.read.parquet(os.path.join(self.lake, "location")),
        )
        return self._append(quality, "hospital_quality", ["facility_id", "rating_date"])

    def publish_summary(self) -> None:
        F, dsum = self.eng.F, self.eng.exact.dsum
        rd = self.spark.read.parquet
        weekly = rd(os.path.join(self.lake, "weekly_report"))
        hosp = rd(os.path.join(self.lake, "hospital"))
        loc = rd(os.path.join(self.lake, "location"))
        summary = (
            weekly.join(hosp, weekly.hospital_weekly_id == hosp.hospital_pk)
            .join(loc, hosp.location_id == loc.id)
            .groupBy("state")
            .agg(
                F.count(F.lit(1)).alias("n_reports"),
                F.countDistinct("hospital_pk").alias("n_hospitals"),
                dsum("total_icu_beds_7_day_avg", "icu_beds"),
                dsum("icu_beds_used_7_day_avg", "icu_beds_used"),
                F.max("collection_week").alias("last_week"),
            )
        )
        path = os.path.join(self.lake, "state_summary")
        if self.tracer is None or not self.tracer.active:
            self.eng.sinks.write_parquet_atomic(summary, path)
            return
        with self.tracer.span("sinks.write_parquet_atomic", jobs=True):
            self.eng.sinks.write_parquet_atomic(summary, path)

    def lake_bytes(self) -> tuple[int, int]:
        """(bytes, data files) under the lake."""
        total = files = 0
        for dirpath, _, names in os.walk(self.lake):
            for n in names:
                total += os.path.getsize(os.path.join(dirpath, n))
                files += n.endswith(".parquet")
        return total, files

    def csv_bytes(self) -> int:
        """CSV bytes one pass loads: every week, the CMS file, the re-load."""
        weeks = [os.path.getsize(p) for _, p in self.files["weeks"]]
        return sum(weeks) + weeks[0] + os.path.getsize(self.files["cms"])
