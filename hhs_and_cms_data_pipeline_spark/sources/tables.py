"""Parquet table sources over the driver testdata layout (TESTDATA.md).

SURVEY §2.1 S3: the reference's table scans go through PostgreSQL
(`weekly-report.py:31-51`); here a scan is a vectorized Parquet read with
column pruning + predicate pushdown supplied by Catalyst. Always `select`
only needed columns in operators so `ReadSchema` stays narrow.

Schema memo: a Parquet read without a schema launches a Spark job to read
footers before the query itself runs (~80-97 ms per read vs ~13-17 ms with a
schema, sf0.1 on a 4-core Xeon). ``table()`` therefore infers each table's
schema once per process and hands it back to ``spark.read.schema(...)`` on
later reads. The memo holds the schema only, never the DataFrame: every call
still builds a fresh relation, so self-joins of two reads keep distinct
attribute ids. An entry is reused only while both parts of its key are
unchanged:

* the file identity: the absolute path plus ``(st_ino, st_size,
  st_mtime_ns)`` of the file, or of every file under a directory dataset,
  so a rewrite at the same path re-infers;
* the session confs that change the Parquet-to-Spark type mapping
  (``_SCHEMA_CONFS``): the events ``ts`` column surfaces as LONG, TIMESTAMP
  or TIMESTAMP_NTZ depending on them and on the file.

A path that does not exist locally is never memoized; it goes straight to
``spark.read.parquet``, which raises the same error as before.
"""

from __future__ import annotations

import os
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to session-tz TIMESTAMP regardless
    of how the driver generated the parquet that round:

    * TIMESTAMP(NANOS)  -> surfaced as int64 under the nanosAsLong conf;
      truncate to micros (identical to DuckDB's TIMESTAMP_NS -> TIMESTAMP).
    * timestamp[us] (tz-less) -> surfaced as TIMESTAMP_NTZ by Spark 4; the
      session tz is pinned to UTC (session.py) so the cast is micro-exact.
    * TIMESTAMP -> already the canonical type.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(dt, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

# (abspath, conf values) -> (file identity, inferred schema). No lock: racing
# misses each infer and store; an identity read before a concurrent rewrite
# only makes the next read infer again.
_SCHEMAS: dict[tuple, tuple[tuple, T.StructType]] = {}


def _file_identity(path: str) -> tuple | None:
    """``(relpath, st_ino, st_size, st_mtime_ns)`` of the file, or of every
    file under a directory dataset; None when the path is not on the local
    filesystem."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_ino, st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(path):
        return None
    ident = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            full = os.path.join(root, f)
            st = os.stat(full)
            rel = os.path.relpath(full, path)
            ident.append((rel, st.st_ino, st.st_size, st.st_mtime_ns))
    return tuple(ident)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    ident = _file_identity(path)
    if ident is None:
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS)
    key = (os.path.abspath(path), confs)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == ident:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (ident, df.schema)
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    return df


def spread(df: DataFrame) -> DataFrame:
    """Repartition a single-file table to the session's full parallelism.

    The testdata tables are one Parquet file (= one row group = ONE input
    partition), which serializes every downstream map stage onto one core —
    measured 3x on shingling at sf0.1. Use on tables feeding CPU-heavy
    per-row work (hashing, Python workers). At 100 TB inputs arrive as many
    files and this round-robin shuffle of a small table is negligible."""
    spark = df.sparkSession
    return df.repartition(spark.sparkContext.defaultParallelism)


def load_all(spark: SparkSession, sf_dir: str) -> SimpleNamespace:
    return SimpleNamespace(**{t: table(spark, sf_dir, t) for t in TABLES})
