"""Spans and Spark counters for the traced run.

Spans are recorded from the benchmark's own code, around the calls it makes
into the engine: ``run -> pass -> op -> {build, plan, exec}`` and, on
``ingest``, one span per ``sinks.*`` call. A span that launches Spark work
gets its own job group; once the span ends, its jobs, stages and SQL
executions are read from Spark's status REST API on localhost (the UI
listener is asynchronous and only keeps the most recent stages, so reading
happens after each span). Streaming progress comes from a
``StreamingQueryListener`` the tracer registers.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
import urllib.error
import urllib.request

from pyspark.sql.streaming import StreamingQueryListener

# Stage counters summed per span: REST field -> (metric, scale to SI units).
STAGE_FIELDS = {
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "executorCpuTime": ("spark.executor_cpu_s", 1e-9),
    "jvmGcTime": ("spark.gc_s", 1e-3),
    "executorDeserializeTime": ("spark.deserialize_s", 1e-3),
    "shuffleWriteBytes": ("spark.shuffle_write_bytes", 1),
    "shuffleReadBytes": ("spark.shuffle_read_bytes", 1),
    "shuffleWriteTime": ("spark.shuffle_write_s", 1e-9),
    "shuffleFetchWaitTime": ("spark.shuffle_fetch_wait_s", 1e-3),
    "memoryBytesSpilled": ("spark.spill_bytes", 1),
    "diskBytesSpilled": ("spark.spill_bytes", 1),
    "inputBytes": ("spark.input_bytes", 1),
    "numFailedTasks": ("spark.failed_tasks", 1),
}
# SQL-node metrics summed per span: metric name in the plan -> our metric.
SQL_FIELDS = {
    "time in aggregation build": "exact.agg_build_s",
    "time to run Python workers": "pyworker.run_s",
    "time to start Python workers": "pyworker.start_s",
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_returned",
}
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """'total (min, med, max ...)\\n8.8 s (...)' or '208.9 KiB' -> SI float."""
    line = text.split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class _Listener(StreamingQueryListener):
    def __init__(self, sink: list):
        self.sink = sink

    def onQueryStarted(self, event):
        self.sink.append(("started", str(event.id), str(event.runId)))

    def onQueryProgress(self, event):
        p = event.progress
        self.sink.append(("progress", str(p.id), {
            "input_rows": p.numInputRows,
            "duration": dict(p.durationMs),
            "state": [(s.numRowsTotal, s.commitTimeMs) for s in p.stateOperators],
        }))

    def onQueryTerminated(self, event):
        self.sink.append(("terminated", str(event.id), None))


class Tracer:
    """Collects spans in memory while ``active``. A span opened with
    ``jobs=True`` carries, in ``counters``, what Spark and the streaming
    listener reported for the work it launched itself (not its children's)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sql_seen = 0
        self._sql_pending: list[dict] = []  # finished executions no span claimed yet
        self.stream_events: list = []
        self._stream_seen = 0
        self._listener = _Listener(self.stream_events)
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def _group(self) -> str:
        for sp in reversed(self._stack):
            if sp["group"]:
                return sp["group"]
        return "perfbench-untracked"

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = False, op_id: int | None = None):
        """Record a span; with ``jobs`` its Spark work gets its own job group
        and its counters are read once it ends."""
        if not self.active:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans), "name": name,
            "parent": parent["id"] if parent else None,
            "op_id": op_id if op_id is not None else (parent or {}).get("op_id"),
            "start": time.perf_counter(), "end": None, "counters": {}, "trace_s": 0.0,
            "group": f"perfbench-span-{len(self.spans)}" if jobs else None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        if jobs:
            self.sc.setJobGroup(sp["group"], sp["group"])
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if jobs:
                group = self._group()
                self.sc.setJobGroup(group, group)
                # a streaming query runs its batches under its run id's group
                stream, run_ids = self._stream_counters()
                sp["counters"] = self._spark_counters([sp["group"], *run_ids])
                sp["counters"].update(stream)
                # time spent reading counters, charged to the enclosing span
                sp["trace_s"] = time.perf_counter() - sp["end"]

    def _wait(self, fetch, done, timeout: float = 10.0):
        deadline = time.monotonic() + timeout
        while True:
            try:
                out = fetch()
            except urllib.error.HTTPError:  # not yet known to the UI store
                if time.monotonic() > deadline:
                    raise
            else:
                if done(out) or time.monotonic() > deadline:
                    return out
            time.sleep(0.02)

    def _spark_counters(self, groups: list[str]) -> dict:
        c: dict[str, float] = {}
        tracker = self.sc.statusTracker()
        job_ids = {j for g in groups for j in tracker.getJobIdsForGroup(g)}
        c["spark.jobs"] = len(job_ids)
        stage_ids = set()
        for jid in job_ids:
            job = self._wait(lambda: self._get(f"/jobs/{jid}"),
                             lambda j: j["status"] in ("SUCCEEDED", "FAILED"))
            stage_ids.update(job["stageIds"])
        for sid in sorted(stage_ids):
            attempts = self._wait(
                lambda: self._get(f"/stages/{sid}"),
                lambda a: all(x["status"] in ("COMPLETE", "SKIPPED", "FAILED") for x in a))
            for a in attempts:
                if a["status"] == "SKIPPED":
                    continue
                c["spark.stages"] = c.get("spark.stages", 0) + 1
                c["spark.tasks"] = c.get("spark.tasks", 0) + a["numTasks"]
                c["spark.single_task_stages"] = (
                    c.get("spark.single_task_stages", 0) + (a["numTasks"] == 1))
                for field, (metric, scale) in STAGE_FIELDS.items():
                    c[metric] = c.get(metric, 0) + a.get(field, 0) * scale
        # SQL executions are listed in id order: fetch the new ones, then
        # claim those whose jobs are this span's.
        new = self._wait(
            lambda: self._get(f"/sql?details=true&planDescription=false"
                              f"&offset={self._sql_seen}&length=100000"),
            lambda es: all(e["status"] != "RUNNING" for e in es))
        self._sql_seen += len(new)
        keep = []
        for e in self._sql_pending + new:
            if not job_ids.intersection(e["successJobIds"] + e["failedJobIds"]):
                keep.append(e)
                continue
            for node in e["nodes"]:
                for m in node["metrics"]:
                    metric = SQL_FIELDS.get(m["name"])
                    if metric:
                        c[metric] = c.get(metric, 0) + parse_sql_metric(m["value"])
        self._sql_pending = keep[-1000:]
        return c

    def _stream_counters(self) -> tuple[dict, list[str]]:
        """Consume the listener events since the last span that read them;
        waits until every query they started has terminated."""
        since = self._stream_seen

        def settled() -> bool:
            ev = self.stream_events[since:]
            started = {q for k, q, _ in ev if k == "started"}
            ended = {q for k, q, _ in ev if k == "terminated"}
            return started <= ended

        self._wait(lambda: None, lambda _: settled())
        events = self.stream_events[since:]
        self._stream_seen = since + len(events)
        c: dict[str, float] = {}
        last_state: dict[str, list] = {}
        run_ids = []
        for kind, qid, p in events:
            if kind == "started":
                c["streaming.queries"] = c.get("streaming.queries", 0) + 1
                run_ids.append(p)
            elif kind == "progress":
                c["streaming.batches"] = c.get("streaming.batches", 0) + 1
                c["streaming.input_rows"] = c.get("streaming.input_rows", 0) + p["input_rows"]
                for key, metric in (("addBatch", "streaming.add_batch_ms"),
                                    ("walCommit", "streaming.wal_commit_ms"),
                                    ("triggerExecution", "streaming.trigger_ms")):
                    c[metric] = c.get(metric, 0) + p["duration"].get(key, 0)
                c["streaming.state_commit_ms"] = (
                    c.get("streaming.state_commit_ms", 0) + sum(s[1] for s in p["state"]))
                if p["state"]:
                    last_state[qid] = p["state"]
        c["streaming.state_rows"] = sum(s[0] for st in last_state.values() for s in st)
        return c, run_ids


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: duration minus the time its children
    cover, including the time they spent reading counters (children of one
    span never overlap: one client, one thread)."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = (child.get(s["parent"], 0.0)
                                  + s["end"] - s["start"] + s["trace_s"])
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child.get(s["id"], 0.0)
    return out
