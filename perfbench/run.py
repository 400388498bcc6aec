"""Benchmark entry point: one workload, one closed-loop client, one run.

    python3 perfbench/run.py --workload aoi_extract --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run

1. builds its inputs (cached under ``.perfbench_work/cache``; excluded
   from ``setup_s``),
2. sets up: Spark session via the program's ``sources.tables.get_spark``,
   corpus opened, every request type of the workload run once and checked
   against closed-form expectations (a mismatch fails the run),
3. repeats the workload's fixed seeded cycle of requests a whole number
   of times, ``round(seconds / CYCLE_S)``: about ``--seconds`` of work on
   the reference host, and the same work on every run,
4. prints host diagnostics as a ``{"diag": ...}`` line and, as the last
   line, ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones. With ``--trace 1``
the run first repeats itself untraced in a child process (for
``trace.overhead_frac`` and the ``proc.*`` CPU split), then measures with
Spark's event log on and every layer call tagged, and prints the per-layer
metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: nominal seconds per cycle (4-core reference host): a run measures
#: round(seconds / CYCLE_S) cycles, so runs of one length do identical work
CYCLE_S = 3.0


def tail_percentile(n: int) -> int:
    """Highest percentile that leaves at least 10 of ``n`` requests beyond it."""
    return max(0, math.floor(100 * (n - 10) / n))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nearest_rank(sorted_vals: list[float], pct: float) -> float:
    k = max(1, math.ceil(pct / 100 * len(sorted_vals)))
    return sorted_vals[k - 1]


def _isolate(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    os.chdir(run_dir)


def build_inputs(workload: str, seed: int):
    import gen
    import workloads as wl

    cache = os.path.join(WORK, "cache")
    os.makedirs(cache, exist_ok=True)
    g = gen.grid_for(wl.RASTER_DOCS)
    paths = {"raster": gen.ensure_raster(cache, g)}
    text = None
    if workload == "aoi_extract":
        text = gen.ensure_text(cache, seed, wl.TEXT_DOCS)
        paths["text"] = text.path
    return g, paths, text


def stop_spark(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes) and
    the Python workers under it, and wait for all of them to end."""
    from pyspark import SparkContext

    import procstat

    kids = [p for p in procstat.tree() if p != os.getpid()]
    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    procstat.wait_gone(kids)


def run_child(workload: str, seed: int, seconds: float) -> tuple[dict, dict]:
    """One untraced run in a fresh process; returns its result and diagnostics."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=170)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: run failed (exit {proc.returncode})")
    diag = next(json.loads(line)["diag"] for line in lines if line.startswith('{"diag"'))
    return json.loads(lines[-1]), diag


def measure(args) -> int:
    import numpy as np

    import procstat
    import layers as tr
    import workloads as wl

    traced = bool(args.trace)
    child = run_child(args.workload, args.seed, args.seconds) if traced else None
    t_start = time.time() if traced else T_PROCESS

    t0 = time.time()
    g, paths, text = build_inputs(args.workload, args.seed)
    gen_s = time.time() - t0

    run_dir = os.path.join(WORK, f"run_{os.getpid()}")
    _isolate(run_dir)
    from geowombat_spark.sources.tables import get_spark

    extra = None
    if traced:
        ev_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(ev_dir)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{ev_dir}",
        }
    t_session = time.time()
    spark = get_spark(
        app=f"perfbench-{args.workload}", master=f"local[{os.cpu_count()}]", extra=extra
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        frames = {k: spark.read.parquet(p) for k, p in paths.items()}
        ctx = wl.Ctx(spark, wl.program_grid(g), g, run_dir, frames, text)
        requests = wl.WORKLOADS[args.workload](ctx, np.random.default_rng([args.seed, 1]))
        tracer = tr.Tracer(spark, args.workload, traced)
        setup_parts = {"to_session": t_session - t_start - gen_s, "session": time.time() - t_session}
        for req in requests:  # warm pass: untimed, checked
            q0 = time.time()
            req.check(req.run(tracer))
            setup_parts[req.kind] = time.time() - q0
        setup_s = time.time() - t_start - gen_s

        ref_before = procstat.reference_loop_s()
        steal0, cpu0 = procstat.steal_s(), procstat.cpu_split()
        lat, kinds, docs, failed = [], {}, 0, 0
        n_cycles = max(1, round(args.seconds / CYCLE_S))
        with procstat.RssSampler() as rss:
            w0 = time.perf_counter()
            for cycle in range(n_cycles):
                tracer.cycle = cycle
                for req in requests:
                    q0 = time.perf_counter()
                    try:
                        req.run(tracer)
                    except Exception:  # a failed request is counted, not fatal
                        failed += 1
                        lat.append(math.inf)
                        log(f"request {req.kind} failed:\n{traceback.format_exc()}")
                        continue
                    ms = (time.perf_counter() - q0) * 1e3
                    lat.append(ms)
                    kinds.setdefault(req.kind, []).append(ms)
                    docs += req.docs
            wall = time.perf_counter() - w0
        cpu1, steal1 = procstat.cpu_split(), procstat.steal_s()
        ref_after = procstat.reference_loop_s()
        if args.workload == "aoi_extract":
            wl.clean_sink(ctx)
    finally:
        stop_spark(spark)

    lat.sort()
    pct = tail_percentile(len(lat))
    docs_per_s = docs / wall
    kdocs = docs / 1e3
    diag = {
        "steal_s": round(steal1 - steal0, 3),
        "ref_loop_before_s": round(ref_before, 4),
        "ref_loop_after_s": round(ref_after, 4),
        "gen_s": round(gen_s, 3),
        "setup_parts_s": {k: round(v, 3) for k, v in setup_parts.items()},
        "cycles": n_cycles,
        "requests": len(lat),
        "tail_percentile": pct,
        "wall_s": round(wall, 3),
        # not gated: the JVM's share jumps by ~0.7 GB on identical work,
        # depending on when G1 grows the heap
        "peak_rss_mb": round(rss.peak_mb, 1),
        "rss_at_peak_mb": {k: round(v, 1) for k, v in rss.at_peak.items()},
        "kind_p50_ms": {k: round(statistics.median(v), 2) for k, v in kinds.items()},
        "cpu_ms_per_kdoc": {
            p: (cpu1[p] - cpu0[p]) * 1e3 / kdocs if kdocs else 0.0 for p in tr.PROC
        },
    }
    if traced:
        per_layer = tr.layer_metrics(tr.read_eventlog(ev_dir), tracer)
        for p in tr.PROC:
            per_layer[f"proc.{p}_cpu_ms_per_kdoc"] = child[1]["cpu_ms_per_kdoc"][p]
        base = child[0]["metrics"]["docs_per_s"]["value"]
        per_layer["trace.overhead_frac"] = 1.0 - docs_per_s / base
        units = dict(tr.per_layer_spec())
        metrics = {k: {"value": per_layer[k], "unit": units[k]} for k, _ in tr.per_layer_spec()}
        diag["untraced"] = child[1]
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "req_p50_ms": {"value": statistics.median(lat), "unit": "ms"},
            "req_tail_ms": {"value": nearest_rank(lat, pct), "unit": "ms"},
            "docs_per_s": {"value": docs_per_s, "unit": "1/s"},
            "ok_frac": {"value": (len(lat) - failed) / len(lat), "unit": "ratio"},
        }
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"diag": diag}), flush=True)
    print(json.dumps({"correct": True, "attempted": len(lat), "failed": failed, "metrics": metrics}), flush=True)
    return 0


def main() -> int:
    sys.path[:0] = [HERE, ROOT]
    import workloads as wl

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "geowombat_spark")):
        log(f"no geowombat_spark package under {ROOT}: run from a checkout of the repository")
        return 2
    try:
        return measure(args)
    except wl.CheckFailed as e:
        log(f"output check failed: {e}")
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}), flush=True)
        return 1


if __name__ == "__main__":
    sys.exit(main())
