#!/usr/bin/env python3
"""Layered benchmark of the engine: three workloads, end-to-end and per-layer.

    python3 perfbench/run.py --workload report --seed 1 --seconds 12 --trace 0

One closed-loop client in one process: an op (builder call + collect, one
file load, one streaming drain) starts when the previous one has returned.
A pass runs the workload's op list once, in an order permuted by the seed.
A run generates its inputs from the seed, sets the engine up three times,
runs a cold pass, measures passes for ``--seconds`` (at least
``MIN_PASSES``), then checks every op result against DuckDB.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones from a separate traced run (see perfbench/README.md). The last line of
stdout is one JSON object; the line before it is a readable summary with
provenance.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "hhs_and_cms_data_pipeline_spark"
WORK = os.path.join(ROOT, ".perfbench-work")

sys.path.insert(0, HERE)

import check  # noqa: E402
import datagen  # noqa: E402
import workloads  # noqa: E402

# Set-ups per run: the cold one and two in-process rebuilds; setup_s is
# their median.
SETUPS = 3
# Warm-up rule: the cold pass and the first half of the passes measured in
# the --seconds window are warm-up; pass_s and op_p50_s come from the second
# half. JIT and codegen caches keep filling for tens of passes (report: 1.39,
# 1.12, 1.03 s ... 0.83 s by pass 16, 0.77 s by pass 30), steepest at the
# start, so a median over the early passes moves with how the JIT happened to
# schedule its work. A run measures at least MIN_PASSES passes.
MIN_PASSES = 3
# The op latency tail is the highest percentile with ten samples beyond it.
TAIL_BEYOND = 10
# local[min(nproc, MAX_CPUS)]: bounds task fan-out, and so a run's length,
# on large hosts.
MAX_CPUS = 8
# Driver heap: pinned so peak RSS compares across hosts; small, because the
# inputs are small and the host may be shared.
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}
PER_LAYER = {
    "jvm.peak_rss_mb": "MB",
    "session.start_s": "s",
    "registry.load_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "sources.table_calls": "count",
    "sources.table_s": "s",
    "spark.input_bytes": "B",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.single_task_stages": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.busy_frac": "ratio",
    "spark.gc_s": "s",
    "spark.deserialize_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_s": "s",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_bytes": "B",
    "spark.failed_tasks": "count",
    "exact.agg_build_s": "s",
    "pyworker.run_s": "s",
    "pyworker.start_s": "s",
    "pyworker.bytes_sent": "B",
    "pyworker.bytes_returned": "B",
    "sinks.append_s": "s",
    "sinks.rows_offered": "count",
    "sinks.rows_appended": "count",
    "sinks.append_yield": "ratio",
    "sinks.publish_s": "s",
    "sinks.output_bytes": "B",
    "sinks.files_written": "count",
    "sinks.stored_bytes_ratio": "ratio",
    "streaming.queries": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.state_commit_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.trigger_ms": "ms",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*workloads.REGISTRY_OPS, "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write the traced run's spans to this JSON file")
    return ap.parse_args(argv)


def spark_cpus() -> int:
    return min(len(os.sched_getaffinity(0)), MAX_CPUS)


def pin_environment() -> None:
    """Fix parallelism and keep every scratch file inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    sys.path.insert(0, ROOT)


def fresh_import(name: str):
    """Import an engine module as a new process would: drop every engine
    module first, so module-level state and registrations start empty."""
    for m in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[m]
    return importlib.import_module(f"{PKG}.{name}")


def set_up(t0: float):
    """Session up and registry loaded; returns (spark, specs, session s,
    registry s), timed from ``t0``."""
    session = fresh_import("session")
    spark = session.get_spark("perfbench")
    t1 = time.perf_counter()
    registry = importlib.import_module(f"{PKG}.registry")
    specs = registry.all_specs()
    if registry.IMPORT_ERRORS:
        raise RuntimeError(f"engine modules failed to import: {registry.IMPORT_ERRORS}")
    return spark, specs, t1 - t0, time.perf_counter() - t1


def engine_namespace() -> SimpleNamespace:
    from pyspark.sql import functions as F

    mod = lambda n: importlib.import_module(f"{PKG}.{n}")  # noqa: E731
    return SimpleNamespace(
        F=F, sinks=mod("sinks"), ingest=mod("operators.ingest"),
        csvsrc=mod("sources.csvsrc"), exact=mod("functions.exact"),
        tables=mod("sources.tables"),
    )


def trace_table_reads(tracer) -> None:
    """Wrap ``sources.tables.table`` wherever an engine module bound it."""
    tables = importlib.import_module(f"{PKG}.sources.tables")
    orig = tables.table

    def table(*a, **k):
        with tracer.span("sources.table"):
            return orig(*a, **k)

    for name, mod in list(sys.modules.items()):
        if name == PKG or name.startswith(PKG + "."):
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, table)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def provenance(args) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
        "spark_cpus": spark_cpus(), "cpu_model": model,
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__,
    }


class Runner:
    """Runs one workload's passes and records every op execution."""

    def __init__(self, args, spark, specs, eng, files, tracer):
        self.args, self.spark, self.specs, self.eng = args, spark, specs, eng
        self.files, self.tracer = files, tracer
        self.execs: list[dict] = []  # one per op execution
        self.passes: list[dict] = []
        if args.workload == "ingest":
            self.ingest = workloads.Ingest(spark, eng, files["lake"], files, tracer)
            self.ops = self.ingest.ops()
        else:
            self.ingest = None
            names = list(workloads.REGISTRY_OPS[args.workload])
            random.Random(args.seed).shuffle(names)
            self.ops = [(n, lambda n=n: self._query(n)) for n in names]

    def _query(self, name: str):
        builder = self.specs[name].builder
        if self.tracer is None or not self.tracer.active:
            df = builder(self.spark, self.files["sf_dir"])
            return df.columns, df.collect()
        with self.tracer.span("build", jobs=True):
            df = builder(self.spark, self.files["sf_dir"])
        with self.tracer.span("plan", jobs=True):
            df._jdf.queryExecution().executedPlan()
        with self.tracer.span("exec", jobs=True):
            rows = df.collect()
        return df.columns, rows

    def _span(self, name: str, **kw):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, jobs=True, **kw)

    def run_pass(self, kind: str, traced: bool) -> None:
        if self.tracer:
            self.tracer.active = traced
        if self.ingest:
            self.ingest.reset()
        p = {"index": len(self.passes), "kind": kind, "traced": traced}
        start = time.perf_counter()
        with self._span("pass"):
            for name, fn in self.ops:
                rec = {"pass": p["index"], "op": name, "error": None, "result": None}
                t = time.perf_counter()
                try:
                    with self._span("op", op_id=len(self.execs)):
                        rec["result"] = fn()
                except Exception as exc:  # noqa: BLE001 — a failed op, not a failed run
                    rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
                rec["seconds"] = time.perf_counter() - t
                self.execs.append(rec)
        p["seconds"] = time.perf_counter() - start
        if self.ingest:
            p["lake_bytes"], p["lake_files"] = self.ingest.lake_bytes()
        self.passes.append(p)

    def run(self) -> None:
        self.run_pass("cold", traced=False)
        # A traced run alternates traced and untraced passes, starting and
        # ending traced: the untraced pass between them is the overhead
        # baseline at the same point of the warm-up drift; at least three.
        need = 3 if self.tracer else MIN_PASSES
        start, n = time.perf_counter(), 0
        while (n < need or time.perf_counter() - start < self.args.seconds
               or (self.tracer and n % 2 == 0)):
            self.run_pass("measured", traced=bool(self.tracer) and n % 2 == 0)
            n += 1

    # -- output check (after the timed window) ----------------------------

    def check(self) -> None:
        """Mark each op execution whose result is wrong as failed."""
        if self.ingest is None:
            want = check.oracle_digests(
                self.files["sf_dir"], self.eng.tables.TABLES,
                {n: self.specs[n].oracle for n, _ in self.ops})
            for rec in self.execs:
                if rec["error"]:
                    continue
                w = want[rec["op"]]
                if isinstance(w, Exception):
                    rec["error"] = f"oracle failed: {w!r}"[:300]
                elif check.digest(*rec["result"]) != w:
                    rec["error"] = "result differs from the DuckDB oracle"
            return
        appends, bad = check.check_ingest(self.files["lake"], self.files)
        want = {f"load_week_{i + 1}": a for i, a in enumerate(appends)}
        want["reload_week_1"] = (0, 0, 0)
        want["load_cms"] = self.files["cms_rows"]
        want["publish_summary"] = None
        for rec in self.execs:
            if not rec["error"] and rec["result"] != want[rec["op"]]:
                rec["error"] = f"appended {rec['result']}, expected {want[rec['op']]}"
        table_ops = {"location": "load_week", "location.id": "load_week",
                     "hospital": "load_week", "weekly_report": "load_week",
                     "hospital_quality": "load_cms", "state_summary": "publish_summary"}
        last = self.passes[-1]["index"]
        for rec in self.execs:
            hits = [t for t in bad if rec["pass"] == last
                    and rec["op"].startswith(table_ops[t])]
            if hits and not rec["error"]:
                rec["error"] = f"lake tables differ from DuckDB: {hits}"

    # -- metrics ------------------------------------------------------------

    def end_to_end(self, setups: list) -> tuple[dict, dict]:
        measured = [p for p in self.passes if p["kind"] == "measured" and not p["traced"]]
        warm = measured[len(measured) // 2:]
        ids = {p["index"] for p in warm}
        lat = sorted(r["seconds"] for r in self.execs if r["pass"] in ids)
        metrics = {
            "setup_s": statistics.median(s + r for s, r in setups),
            "pass_s": statistics.median(p["seconds"] for p in warm),
        }
        k = len(lat) - TAIL_BEYOND - 1
        extra = {
            "setup_cold_s": sum(setups[0]),
            "cold_pass_s": self.passes[0]["seconds"],
            "op_p50_s": statistics.median(lat),
            # undefined (None) until a run has more than TAIL_BEYOND samples
            "op_tail_s": lat[k] if k >= 0 else None,
            "op_tail_percentile": round(100.0 * (k + 1) / len(lat), 1) if k >= 0 else None,
            "op_samples": len(lat),
            "passes_measured": len(measured),
            "passes_warm": len(warm),
            "pass_seconds": [round(p["seconds"], 3) for p in self.passes],
            "op_seconds": {
                name: {"cold": round(next(r["seconds"] for r in self.execs if r["op"] == name), 3),
                       "median": round(statistics.median(
                           r["seconds"] for r in self.execs
                           if r["op"] == name and r["pass"] in ids), 3)}
                for name, _ in self.ops},
            "failed_frac": self.failed() / len(self.execs),
        }
        if self.ingest:
            extra["stored_bytes_ratio"] = measured[-1]["lake_bytes"] / self.ingest.csv_bytes()
        return metrics, extra

    def failed(self) -> int:
        return sum(1 for r in self.execs if r["error"])

    def per_layer(self, setups: list) -> dict:
        spans = self.tracer.spans
        by_id = {s["id"]: s for s in spans}

        def pass_of(s) -> int:
            while s["name"] != "pass":
                s = by_id[s["parent"]]
            return s["id"]

        traced = [p for p in self.passes if p["kind"] == "measured" and p["traced"]]
        plain = [p for p in self.passes if p["kind"] == "measured" and not p["traced"]]
        pass_spans = [s for s in spans if s["name"] == "pass"]
        per_pass = {s["id"]: {m: 0.0 for m in PER_LAYER} for s in pass_spans}
        engine_s = {sid: 0.0 for sid in per_pass}  # op time minus counter reads
        for s in spans:
            if s["name"] in ("run", "pass"):
                continue
            m = per_pass[pass_of(s)]
            dur = s["end"] - s["start"]
            engine_s[pass_of(s)] += dur if s["name"] == "op" else -s["trace_s"]
            for key, v in s["counters"].items():
                if key in m:
                    m[key] += v
            m["operators.build_jobs"] += (s["name"] == "build") * s["counters"].get("spark.jobs", 0)
            if s["name"] == "build":
                m["operators.build_s"] += dur
            elif s["name"] == "sources.table":
                m["sources.table_calls"] += 1
                m["sources.table_s"] += dur
            elif s["name"] == "plan":
                m["spark.plan_s"] += dur
            elif s["name"] in ("exec", "sinks.append_new_keys", "sinks.write_parquet_atomic"):
                m["spark.exec_s"] += dur
            if s["name"] == "sinks.append_new_keys":
                m["sinks.append_s"] += dur
                m["sinks.rows_offered"] += s["rows_offered"]
                m["sinks.rows_appended"] += s["rows_appended"]
            elif s["name"] == "sinks.write_parquet_atomic":
                m["sinks.publish_s"] += dur
        for s, p in zip(pass_spans, traced):
            m = per_pass[s["id"]]
            m["spark.busy_frac"] = m["spark.executor_run_s"] / (
                engine_s[s["id"]] * spark_cpus())
            if m["sinks.rows_offered"]:
                m["sinks.append_yield"] = m["sinks.rows_appended"] / m["sinks.rows_offered"]
            if self.ingest:
                m["sinks.output_bytes"] = p["lake_bytes"]
                m["sinks.files_written"] = p["lake_files"]
                m["sinks.stored_bytes_ratio"] = p["lake_bytes"] / self.ingest.csv_bytes()
        out = {m: statistics.median(pp[m] for pp in per_pass.values()) for m in PER_LAYER}
        out["session.start_s"] = statistics.median(s for s, _ in setups)
        out["registry.load_s"] = statistics.median(r for _, r in setups)
        out["trace.overhead_s"] = (statistics.median(p["seconds"] for p in traced)
                                   - statistics.median(p["seconds"] for p in plain))
        return out


def make_inputs(args) -> dict:
    data = os.path.join(WORK, "data")
    if args.workload != "ingest":
        datagen.write_star_schema(data, args.seed)
        return {"sf_dir": data}
    files = datagen.write_hhs_cms(
        data, args.seed, workloads.INGEST_WEEKS, workloads.INGEST_HOSPITALS)
    with open(files["cms"]) as f:
        files["cms_rows"] = sum(1 for _ in f) - 1
    files["lake"] = os.path.join(WORK, "lake")
    return files


def run(args) -> int:
    phases = {}
    t = time.perf_counter()
    pin_environment()
    files = make_inputs(args)
    phases["inputs"] = time.perf_counter() - t

    setups, spark = [], None
    try:
        t = time.perf_counter()
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, specs, s, r = set_up(time.perf_counter())
            setups.append((s, r))
        phases["setups"] = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        eng = engine_namespace()
        tracer = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark)
            trace_table_reads(tracer)
        runner = Runner(args, spark, specs, eng, files, tracer)
        t = time.perf_counter()
        if tracer:
            tracer.active = True
            with tracer.span("run"):
                runner.run()
        else:
            runner.run()
        phases["passes"] = time.perf_counter() - t
        rss = jvm_peak_rss_mb(spark)
        t = time.perf_counter()
        runner.check()
        phases["check"] = time.perf_counter() - t
        metrics, extra = runner.end_to_end(setups)
        extra["peak_rss_mb"] = rss
        units = END_TO_END
        if tracer:
            tracer.close()
            extra["self_time_s"] = {
                k: round(v, 4) for k, v in tracing.self_times(tracer.spans).items()}
            extra["end_to_end"] = metrics
            metrics, units = runner.per_layer(setups), PER_LAYER
            metrics["jvm.peak_rss_mb"] = rss
            if args.spans:
                with open(args.spans, "w") as f:
                    json.dump(tracer.spans, f)
    finally:
        t = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        phases["stop"] = time.perf_counter() - t

    errors = sorted({f"{r['op']}: {r['error']}" for r in runner.execs if r["error"]})
    for e in errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    summary = {"provenance": provenance(args), **extra,
               "ops": [name for name, _ in runner.ops],
               "phase_s": {k: round(v, 3) for k, v in phases.items()}}
    print("perfbench summary: " + json.dumps(summary, sort_keys=True))
    print(json.dumps({
        "correct": runner.failed() == 0,
        "attempted": len(runner.execs),
        "failed": runner.failed(),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "session.py")):
        print(f"perfbench: engine package {PKG}/ not found in {ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        return run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
