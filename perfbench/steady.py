"""Steadiness self-check: run one workload N times, each with its own seed,
and print every end-to-end metric's per-run values, median, quartiles and
quartile spread next to each run's host diagnostics.

    python3 perfbench/steady.py --workload udf_kernels --runs 10

Run from the root of a checkout. The spread is (q3 - q1) / median with
``statistics.quantiles(values, n=4)``; a metric whose spread exceeds its
``bound`` in BENCHMARK.json is flagged (``setup_s`` is listed but not
gated). Exits 1 when any run fails or any gated metric is flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

from run import ROOT, run_child


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    results = []
    for i in range(args.runs):
        seed = args.seed0 + i
        res, diag = run_child(args.workload, seed, bench["run_seconds"])
        results.append((seed, res, diag))
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed}: correct={res['correct']} {vals}", flush=True)
        print(f"    host: steal_s={diag['steal_s']} ref_loop_s="
              f"{diag['ref_loop_before_s']}/{diag['ref_loop_after_s']} "
              f"cycles={diag['cycles']} requests={diag['requests']} "
              f"peak_rss_mb={diag['peak_rss_mb']} {diag['rss_at_peak_mb']}", flush=True)
        print(f"    per-request p50 ms: {diag['kind_p50_ms']}", flush=True)

    flagged = []
    print(f"\n{args.workload}: {args.runs} runs")
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for _, r, _ in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        gated = name != "setup_s"
        flag = gated and spread > bound
        if flag:
            flagged.append(name)
        print(f"  {name:12s} median={med:.4g} q1={q1:.4g} q3={q3:.4g} "
              f"spread={spread:.3f} bound={bound}{'  OVER BOUND' if flag else ''}")
        print(f"               runs={[round(v, 4) for v in vals]}")
    ok = all(r["correct"] for _, r, _ in results) and not flagged
    print("steady" if ok else f"NOT steady: {flagged or 'a run was not correct'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
