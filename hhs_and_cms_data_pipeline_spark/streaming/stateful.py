"""Custom stateful streaming operator: sessionization with
``applyInPandasWithState`` (SURVEY §2.10 — no reference counterpart; the
task's streaming surface requires a hand-rolled stateful op).

Semantics contract (identical to the batch gaps-and-islands form in
operators/streaming_batch.py:stream_sessionize, 30-minute inactivity gap,
ties broken by (ts, event_id)): the stateful run over chronological
micro-batches must produce exactly the rows the batch query produces on the
static table — and is differentially checked against the same SQL oracle.

Scale notes: state is one tiny tuple per user (open-session bounds + seq),
partitioned by user_id — high cardinality, no skew, bounded memory. Each
micro-batch ships one Arrow batch per user group to Python; emission is
"update" (closed sessions final + open-session snapshot), so downstream
dedup is a max() per (user_id, session_seq) — sessions only grow.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import env_positive_int, scoped_conf
from ..sources.tables import normalize_events_ts
from .events import events_raw_schema


# Per-batch input bytes one drain partition takes on. Matrix behind the
# constant (largest staged file = one micro-batch, since every drain reads
# with maxFilesPerTrigger=1; width = ceil(bytes / 64 KiB) capped at cores):
#
#   input      per-batch bytes   4 cores   8 cores   32 cores   (old rule)
#   benchmark  13.8 KB           1         1         1          8
#   sf0.01     60.7 KB           1         1         1          8
#   sf0.1      535 KB            4         8         9          8
#
# Measured on a 4-core Xeon, applyInPandasWithState sessionizer drain:
# benchmark data ran 4.8-5.9 s at width 8, 3.6-3.9 s at 4, 3.1-4.9 s at 1
# (per-task fixed cost, ~80 ms state commit + ~400 ms Python round-trip,
# dominates KB batches); sf0.1 ran 12.6-15.0 s at 8, 8.6-13.7 s at 4 and
# 21.6-25.8 s at 1, so the width must grow with the batch. Rows were
# hash-identical at widths 1, 2, 4 and 8 on every input.
_DRAIN_BYTES_PER_PARTITION = 64 * 1024

_ROCKSDB_PROVIDER = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
}


def largest_file_bytes(stage_dir: str) -> int:
    """Size of the largest data file directly under ``stage_dir``, skipping
    the names the file source hides (leading ``_`` or ``.``); 0 when none."""
    with os.scandir(stage_dir) as entries:
        return max(
            (
                e.stat().st_size
                for e in entries
                if e.is_file() and not e.name.startswith(("_", "."))
            ),
            default=0,
        )


def drain_partitions(spark: SparkSession, stage_dir: str) -> int:
    """Partition count for a bounded drain over the files in ``stage_dir``.

    Structured Streaming pins the state-store partition count to
    ``spark.sql.shuffle.partitions`` at the first batch for the
    checkpoint's lifetime, and each micro-batch pays one state-store commit
    and one Python-worker round-trip per partition; foreachBatch drains
    schedule every batch job at that width too. The cost is per task, not
    per byte, so the width follows the bytes of the largest micro-batch:
    ``ceil(largest_file_bytes / 64 KiB)``, clamped to
    ``[1, defaultParallelism]`` (matrix at ``_DRAIN_BYTES_PER_PARTITION``).
    ``$SPARK_GRAFT_STREAM_STATE_PARTITIONS`` overrides it, e.g. on a
    cluster sized so each partition holds ~100 MB-1 GB of state."""
    override = env_positive_int("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    if override:
        return override
    width = -(-largest_file_bytes(stage_dir) // _DRAIN_BYTES_PER_PARTITION)
    return max(1, min(width, spark.sparkContext.defaultParallelism))


def drain_conf(spark: SparkSession, stage_dir: str, rocksdb: bool = False) -> dict[str, str]:
    """Session confs for one drain over ``stage_dir``, applied through
    ``session.scoped_conf`` around stream construction..awaitTermination.

    ``rocksdb`` selects the RocksDB state-store provider, which the
    transformWithState drains REQUIRE: they keep each state variable in its
    own column family, and the default HDFSBackedStateStoreProvider rejects
    multiple families. It is also the provider for state larger than
    executor heap. Scoped so co-resident applyInPandasWithState queries keep
    their session's provider."""
    conf = {"spark.sql.shuffle.partitions": str(drain_partitions(spark, stage_dir))}
    return {**conf, **_ROCKSDB_PROVIDER} if rocksdb else conf


_GAP_US = 30 * 60 * 1_000_000  # 30 min in us; ts travels as int64 MICROS
# in-flight (unix_micros of the normalized TIMESTAMP), matching both the
# batch sessionizer's unix_micros comparison and the DuckDB oracle's
# TIMESTAMP precision exactly.

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("session_seq", T.LongType(), False),
        T.StructField("start_us", T.LongType(), False),
        T.StructField("end_us", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
    ]
)

# (session_seq, start_us, last_us, n_events) of the open session.
SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_seq", T.LongType(), False),
        T.StructField("start_us", T.LongType(), False),
        T.StructField("last_us", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
    ]
)


def sessionize_with_state(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold this user's micro-batch rows into the open-session state.

    Emits every session CLOSED by this batch plus a snapshot of the one
    still open (update semantics — later batches re-emit it grown)."""
    (user_id,) = key
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts", "event_id"], kind="mergesort")

    if state.exists:
        seq, start_us, last_us, n = state.get
    else:
        seq, start_us, last_us, n = 0, None, None, 0

    out: list[tuple] = []
    for ts, _eid in zip(rows["ts"].astype("int64"), rows["event_id"]):
        if start_us is None:
            seq, start_us, last_us, n = seq + 1, ts, ts, 1
        elif ts - last_us > _GAP_US:
            out.append((user_id, seq, start_us, last_us, n))  # closed
            seq, start_us, last_us, n = seq + 1, ts, ts, 1
        else:
            last_us, n = ts, n + 1
    state.update((seq, start_us, last_us, n))
    out.append((user_id, seq, start_us, last_us, n))  # open-session snapshot
    yield pd.DataFrame(out, columns=[f.name for f in SESSION_OUTPUT_SCHEMA.fields])


def stage_chronological_files(spark: SparkSession, sf_dir: str, stage_dir: str, n_files: int = 4) -> str:
    """Split events.parquet into n time-range files with ascending mtimes so
    the file source (maxFilesPerTrigger=1) delivers chronological
    micro-batches — the landing-zone arrival pattern, reproduced
    deterministically for tests and the driver."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    # Stage into a sibling temp dir and rename into place: a crash
    # mid-staging must never leave a partially-written stage_dir that a
    # later session's exists()-style cache guard would treat as complete
    # (ADVICE r6 — the /tmp ledger cache keyed on part-0 existing).
    tmp_dir = f"{stage_dir}.staging.{os.getpid()}"
    shutil.rmtree(tmp_dir, ignore_errors=True)
    os.makedirs(tmp_dir)
    tbl = pq.read_table(f"{sf_dir}/events.parquet")
    # sort and slice into equal-count time ranges (ties share a ts value,
    # hence always land in the same slice); unit-agnostic arrow ops.
    tbl = tbl.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    n = tbl.num_rows
    cuts = [round(i * n / n_files) for i in range(n_files + 1)]
    ts_col = tbl.column("ts").to_pylist()
    for i in range(1, n_files):  # move cut to a ts boundary (no split ties)
        c = cuts[i]
        while 0 < c < n and ts_col[c] == ts_col[c - 1]:
            c += 1
        cuts[i] = c
    base = 1_600_000_000
    for i in range(n_files):
        lo, hi = cuts[i], cuts[i + 1]
        if lo >= hi:
            continue
        path = os.path.join(tmp_dir, f"part-{i}.parquet")
        pq.write_table(tbl.slice(lo, hi - lo), path)
        os.utime(path, (base + i * 60, base + i * 60))
    shutil.rmtree(stage_dir, ignore_errors=True)
    os.rename(tmp_dir, stage_dir)  # preserves per-file mtimes
    return stage_dir


def run_stateful_sessionize(
    spark: SparkSession, stage_dir: str, checkpoint_dir: str, query_name: str
) -> tuple[DataFrame, int]:
    """Run the stateful sessionizer over the staged files; returns the
    deduplicated final sessions and the number of micro-batches executed.

    The drain runs at ``drain_partitions`` (rationale and measurements
    there), scoped over stream construction..awaitTermination: the state
    store binds spark.sql.shuffle.partitions at first batch and pins it in
    the checkpoint; the single-use checkpoint means no later run can see a
    mismatched pinned count."""
    with scoped_conf(spark, drain_conf(spark, stage_dir)):
        raw = (
            spark.readStream.schema(events_raw_schema(spark, stage_dir))
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(stage_dir)
        )
        stream = (
            normalize_events_ts(raw)
            # null-ts rows are DROPPED to match the oracle's WHERE ts IS NOT
            # NULL (_SQL_SESSIONIZED_CTES): without the filter, unix_micros
            # yields NULL -> pandas NaN -> astype("int64") raises inside the
            # Python worker, failing the whole stream where the batch twin
            # succeeds. NULL-user rows are dropped too (oracle: WHERE user_id
            # IS NOT NULL): a NULL grouping key reaches the stateful fold as a
            # None-keyed pandas group and fails the non-null output-schema
            # decode — adversarial-gate finding; a session of "unknown user"
            # lumps unrelated traffic anyway.
            .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
            # int64 micros in-flight: Arrow-exact for the pandas state fold.
            .select("user_id", F.unix_micros("ts").alias("ts"), "event_id")
        )
        sessions = stream.groupBy("user_id").applyInPandasWithState(
            sessionize_with_state,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        q = (
            sessions.writeStream.format("memory")
            .queryName(query_name)
            .outputMode("update")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    # update-mode log: the last emission per (user, session) is the biggest —
    # sessions only grow — so max() collapses snapshots into finals.
    final = (
        spark.table(query_name)
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("start_us").alias("start_us"),
            F.max("end_us").alias("end_us"),
            F.max("n_events").alias("n_events"),
        )
        .select(
            "user_id",
            "session_seq",
            F.timestamp_micros("start_us").alias("session_start"),
            F.timestamp_micros("end_us").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_seq")
    )
    return final, n_batches
