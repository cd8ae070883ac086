"""SparkSession construction tuned for the target workload.

Scale notes (100 TB design; tested on local[32]):
- AQE on: runtime coalescing of post-shuffle partitions, skew-join splitting,
  and dynamic broadcast-join demotion/promotion.
- ``spark.sql.shuffle.partitions`` sized from the available cores locally; on a
  real cluster this would be ~2-3x total executor cores (AQE coalesces down).
- Session timezone pinned to UTC so timestamp semantics are reproducible and
  match the DuckDB oracle.
- Arrow enabled for the pandas interchange boundary (presentation edge and
  pandas UDFs) — never used in the relational hot path.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

_SESSION_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # dims (nation/region/customer at test SFs) are broadcast candidates;
    # 64MB leaves headroom at larger SFs while AQE re-plans at runtime.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # events.parquet has shipped as TIMESTAMP(NANOS) in some rounds (the
    # vectorized reader rejects it outright without this conf) and as
    # timestamp[us]/NTZ in others; sources.tables.normalize_events_ts
    # canonicalizes whichever form is on disk to session-tz TIMESTAMP.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def env_positive_int(name: str) -> int | None:
    """Positive-integer environment knob, None when unset or empty. Any other
    value raises a ValueError naming the variable and its value."""
    raw = os.environ.get(name, "").strip()
    if not raw:
        return None
    if not raw.isdecimal() or int(raw) < 1:
        raise ValueError(f"${name} must be a positive integer, got {raw!r}")
    return int(raw)


def default_parallelism() -> int:
    return env_positive_int("SPARK_GRAFT_CPUS") or os.cpu_count() or 8


@contextmanager
def scoped_conf(
    spark: SparkSession, confs: Mapping[str, str | None]
) -> Iterator[None]:
    """Apply runtime ``confs`` for the duration of a ``with`` block, then put
    back each key's prior value on every exit path, unsetting a key that had
    none. A ``None`` value unsets the key inside the block. The confs are set
    inside the ``try``, so an error while setting them, or anywhere in the
    block, still restores the shared session."""
    prior: dict[str, str | None] = {}
    try:
        for key, value in confs.items():
            prior[key] = spark.conf.get(key, None)
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
        yield
    finally:
        for key, value in reversed(prior.items()):
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def get_spark(app_name: str = "hhs-cms-spark-engine") -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in _SESSION_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-provided session.

    The driver hands us its own SparkSession; correctness of the
    timestamp-bearing queries requires UTC, and the perf posture requires AQE.
    Only session-level (runtime-settable) confs are touched.
    """
    for k, v in _SESSION_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            # Only a static conf (fixed at session build) is ignorable — its
            # runtime value can't change and retrying is pointless. Anything
            # else (bad value, broken session) must surface, not no-op.
            msg = str(e)
            if "CANNOT_MODIFY_CONFIG" in msg or "Cannot modify the value" in msg:
                continue
            raise
    return spark
