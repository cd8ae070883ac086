"""Schema memo of ``sources.tables.table()``: a warm read launches no Spark
job, yet a rewritten file, a flipped type-mapping conf or a missing path
behaves exactly as an uncached ``spark.read.parquet`` would, and every call
still builds its own relation."""

from __future__ import annotations

import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hhs_and_cms_data_pipeline_spark.registry import all_specs
from hhs_and_cms_data_pipeline_spark.sources import tables
from tests.conftest import SF_SMOKE

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _job_count(spark, fn) -> int:
    """Spark jobs launched by ``fn()``, counted through a job group. A
    sentinel job in a second group runs afterwards: once the status tracker
    reports it, every earlier job event has been processed too."""
    sc = spark.sparkContext
    group, sentinel = f"memo-{uuid.uuid4().hex}", f"memo-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, group)
        fn()
        sc.setJobGroup(sentinel, sentinel)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(sentinel):
        assert time.monotonic() < deadline, "status tracker lost the sentinel job"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "name", ["flagship_utilization", "r5_sum_by_state", "tpch_q1_pricing_summary"]
)
def test_warm_builder_launches_no_job(spark, name):
    builder = all_specs()[name].builder
    tables._SCHEMAS.clear()
    assert _job_count(spark, lambda: builder(spark, SF_SMOKE)) >= 1
    assert _job_count(spark, lambda: builder(spark, SF_SMOKE)) == 0


def test_rewrite_at_same_path_reinfers(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int32())}), path)
    assert tables.table(spark, str(tmp_path), "region").columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = tables.table(spark, str(tmp_path), "region")
    assert df.columns == ["b", "c"]
    assert df.collect() == [("x", 1.5)]


def test_directory_dataset_rewrite_reinfers(spark, tmp_path):
    path = tmp_path / "region.parquet"
    path.mkdir()
    pq.write_table(pa.table({"a": [1]}), path / "part-0.parquet")
    assert tables.table(spark, str(tmp_path), "region").columns == ["a"]
    (path / "part-0.parquet").unlink()
    pq.write_table(pa.table({"b": [2, 3]}), path / "part-1.parquet")
    df = tables.table(spark, str(tmp_path), "region")
    assert df.columns == ["b"]
    assert df.count() == 2


def test_nanos_as_long_flip_reinfers(spark, tmp_path):
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), tmp_path / "region.parquet")
    before = spark.conf.get(_NANOS_AS_LONG)
    try:
        spark.conf.set(_NANOS_AS_LONG, "true")
        df = tables.table(spark, str(tmp_path), "region")
        assert df.schema["ts"].dataType == T.LongType()
        # without the conf Spark rejects TIMESTAMP(NANOS) outright
        spark.conf.set(_NANOS_AS_LONG, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            tables.table(spark, str(tmp_path), "region")
        spark.conf.set(_NANOS_AS_LONG, "true")
        df = tables.table(spark, str(tmp_path), "region")
        assert df.schema["ts"].dataType == T.LongType()
    finally:
        spark.conf.set(_NANOS_AS_LONG, before)


def test_missing_table_raises_and_is_not_memoized(spark, tmp_path):
    for _ in range(2):
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            tables.table(spark, str(tmp_path), "nation")
    assert not any(str(tmp_path) in key[0] for key in tables._SCHEMAS)


def test_two_reads_self_join(spark):
    a = tables.table(spark, SF_SMOKE, "nation")
    b = tables.table(spark, SF_SMOKE, "nation")
    assert a is not b
    n = a.count()
    pairs = a.join(b, a["n_nationkey"] < b["n_nationkey"]).count()
    assert pairs == n * (n - 1) // 2
    same_region = (
        a.alias("x")
        .join(b.alias("y"), F.col("x.n_regionkey") == F.col("y.n_regionkey"))
        .count()
    )
    per_region = a.groupBy("n_regionkey").count().collect()
    assert same_region == sum(r["count"] ** 2 for r in per_region)
