"""Per-layer metrics: driver-side call timing plus Spark's own event log.

``Tracer`` wraps every layer call and every action of a request. When
tracing, each call runs under job group ``<workload>/<function>/<i>`` and
each action under ``<workload>/<function>/<i>/exec``; the recorded jobs are
joined back to calls through ``spark.jobGroup.id`` in the uncompressed
event log (Spark writes a rolling ``eventlog_v2_<app>/events_*`` directory).

Per-layer values are per-cycle totals — the sum over a cycle's calls of a
function — and the reported figure is their median over traced cycles. A
function the workload does not call reports 0. A request that chains calls
(subset then ndvi) has one action; its exec-side measures (exec_ms and the
task counters of the action's jobs) count under every function in the chain.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time

from workloads import FUNCTIONS, noop

# per-function measures: (name, unit)
BASE = (
    ("build_ms", "ms"),
    ("build_jobs", "count"),
    ("exec_ms", "ms"),
    ("cpu_ms", "ms"),
    ("shuffle_bytes", "bytes"),
)
READS_CORPUS = {f for fs in FUNCTIONS.values() for f in fs} - {
    "operators.rasterize.polygon_to_array"
}
PYTHON_PATH = set(FUNCTIONS["udf_kernels"])
SPILLS = {
    "operators.focal.moving",
    "pipeline.dedup.exact_dedup",
    "plans.checkpoint.write_tiled_checkpointed",
}
SINK = "plans.checkpoint.write_tiled_checkpointed"
SINK_SPLIT = ("prepass_ms", "data_write_ms", "audit_ms")
PROC = ("jvm", "pyworker", "driver")


def measures(fn: str) -> list[tuple[str, str]]:
    out = list(BASE)
    if fn in READS_CORPUS:
        out.append(("input_bytes", "bytes"))
    if fn in PYTHON_PATH:
        out += [("py_run_ms", "ms"), ("py_bytes_out", "bytes")]
    if fn in SPILLS:
        out.append(("spill_bytes", "bytes"))
    if fn == SINK:
        out += [(m, "ms") for m in SINK_SPLIT]
    return out


def per_layer_spec() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in a fixed order."""
    spec = []
    for fns in FUNCTIONS.values():
        for fn in fns:
            spec += [(f"{fn}.{m}", u) for m, u in measures(fn)]
    spec += [(f"proc.{p}_cpu_ms_per_kdoc", "ms/kdoc") for p in PROC]
    spec.append(("trace.overhead_frac", "ratio"))
    return spec


class Tracer:
    """Times layer calls and actions; tags their jobs when ``traced``."""

    def __init__(self, spark, workload: str, traced: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.traced = traced
        self.cycle = -1  # -1: warm pass
        self.n = 0
        self.chain: list[str] = []
        self.groups: dict[str, tuple[int, str, tuple[str, ...]]] = {}
        self.timings: list[tuple[int, str, str, float]] = []  # cycle, fn, measure, ms

    def _group(self, gid: str, phase: str, fns: tuple[str, ...]) -> None:
        if self.traced:
            self.sc.setJobGroup(gid, gid)
            self.groups[gid] = (self.cycle, phase, fns)

    def call(self, fn: str, thunk):
        self._group(f"{self.workload}/{fn}/{self.n}", "build", (fn,))
        self.n += 1
        t0 = time.perf_counter()
        out = thunk()
        self.timings.append((self.cycle, fn, "build_ms", (time.perf_counter() - t0) * 1e3))
        self.chain.append(fn)
        return out

    def act(self, df) -> None:
        fns, self.chain = tuple(self.chain), []
        self._group(f"{self.workload}/{fns[-1]}/{self.n - 1}/exec", "exec", fns)
        t0 = time.perf_counter()
        noop(df)
        ms = (time.perf_counter() - t0) * 1e3
        for fn in fns:
            self.timings.append((self.cycle, fn, "exec_ms", ms))


def read_eventlog(log_dir: str) -> list[dict]:
    """Events of the one application under ``log_dir``, in order."""
    apps = glob.glob(os.path.join(log_dir, "eventlog_v2_*"))
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log under {log_dir}, found {apps}")
    parts = glob.glob(os.path.join(apps[0], "events_*"))
    parts.sort(key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))
    events = []
    for p in parts:
        with open(p) as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"


def _sink_kind(plan: str) -> str:
    if "InsertIntoHadoopFsRelationCommand" in plan:
        return "audit_ms" if "_manifest" in plan else "data_write_ms"
    return "prepass_ms"


def layer_metrics(events: list[dict], tracer: Tracer) -> dict[str, float]:
    """Per-layer metric values (medians over traced cycles of per-cycle
    totals) for every name in ``per_layer_spec`` except the proc/trace
    ones, which the caller adds."""
    job_group, stage_job, job_span, job_exec = {}, {}, {}, {}
    execs: dict[int, dict] = {}
    counters: dict[str, dict[str, float]] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            job_group[jid] = props.get("spark.jobGroup.id")
            eid = props.get("spark.sql.execution.id")
            job_exec[jid] = int(eid) if eid is not None else None
            job_span[jid] = [e["Submission Time"], None]
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            job_span[e["Job ID"]][1] = e["Completion Time"]
        elif kind == _SQL_START:
            if e.get("rootExecutionId", e["executionId"]) == e["executionId"]:
                execs[e["executionId"]] = {
                    "group": e.get("jobGroupId"),
                    "plan": e.get("physicalPlanDescription", ""),
                    "start": e["time"],
                    "end": None,
                }
        elif kind == _SQL_END:
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerTaskEnd":
            gid = job_group.get(stage_job.get(e["Stage ID"]))
            tm = e.get("Task Metrics")
            if gid not in tracer.groups or not tm:
                continue
            c = counters.setdefault(gid, {})
            acc = {a.get("Name"): a.get("Update") for a in e["Task Info"].get("Accumulables", [])}
            for key, val in (
                ("cpu_ms", tm["Executor CPU Time"] / 1e6),
                ("input_bytes", tm["Input Metrics"]["Bytes Read"]),
                ("shuffle_bytes", tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]),
                ("spill_bytes", tm["Disk Bytes Spilled"]),
                ("py_run_ms", float(acc.get(_PY_RUN) or 0)),
                ("py_bytes_out", float(acc.get(_PY_SENT) or 0)),
            ):
                c[key] = c.get(key, 0.0) + val

    # per (cycle, fn, measure) totals
    totals: dict[tuple[int, str, str], float] = {}

    def add(cycle, fn, m, v):
        totals[(cycle, fn, m)] = totals.get((cycle, fn, m), 0.0) + v

    for cycle, fn, m, ms in tracer.timings:
        add(cycle, fn, m, ms)
    for gid, (cycle, phase, fns) in tracer.groups.items():
        for fn in fns:
            for m, v in counters.get(gid, {}).items():
                add(cycle, fn, m, v)
        if phase == "build":
            n_jobs = sum(1 for g in job_group.values() if g == gid)
            add(cycle, fns[0], "build_jobs", n_jobs)
            if fns[0] == SINK:
                for m, v in _sink_split(gid, job_group, job_exec, job_span, execs).items():
                    add(cycle, SINK, m, v)

    cycles = sorted({c for c, _, _ in totals if c >= 0})
    out = {}
    for fns in FUNCTIONS.values():
        for fn in fns:
            for m, _unit in measures(fn):
                vals = [totals.get((c, fn, m), 0.0) for c in cycles]
                out[f"{fn}.{m}"] = statistics.median(vals) if vals else 0.0
    return out


def _sink_split(gid, job_group, job_exec, job_span, execs) -> dict[str, float]:
    """Split one sink call's time by the root of each SQL execution plan:
    data-dir write, manifest write (audit), or collect/read-back (prepass).
    A job outside any SQL execution (file listing for a read) serves the
    next execution of the call, so it takes that execution's kind."""
    out = dict.fromkeys(SINK_SPLIT, 0.0)
    steps = [(x["start"], _sink_kind(x["plan"]), x["end"] - x["start"])
             for x in execs.values() if x["group"] == gid and x["end"] is not None]
    steps.sort()
    for jid, g in job_group.items():
        if g != gid or job_exec[jid] is not None or job_span[jid][1] is None:
            continue
        start, end = job_span[jid]
        later = [k for s, k, _ in steps if s >= start]
        out[later[0] if later else "prepass_ms"] += end - start
    for _s, kind, dur in steps:
        out[kind] += dur
    return out
