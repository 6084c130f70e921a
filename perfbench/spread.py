#!/usr/bin/env python3
"""Run-to-run spread of the benchmark, and its tracing overhead.

    python3 perfbench/spread.py --workloads ingest_daily,query_serving \\
        --seeds 1-10 [--trace 0|1|both] [--seconds N]

Runs ``run.py`` once per (workload, seed), one run at a time, and prints per
workload and end-to-end metric the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread: (Q3 - Q1) / median,
next to the metric's bound from BENCHMARK.json. With ``--trace both`` each
seed also runs traced, and the tracing overhead is reported as the traced
median minus the untraced median of every end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One benchmark run; returns its result file's record."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=False, timeout=900,
    )
    path = next((ln.split(": ", 1)[1] for ln in proc.stderr.splitlines()
                 if ln.startswith("result file: ")), None)
    if proc.returncode or path is None:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    with open(path) as f:
        return json.load(f)


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", choices=["0", "1", "both"], default="0")
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    modes = [0, 1] if args.trace == "both" else [int(args.trace)]
    report = {}
    for wl in args.workloads.split(","):
        runs: dict[int, list[dict]] = {m: [] for m in modes}
        for seed in _seeds(args.seeds):
            for m in modes:
                rec = run_once(wl, seed, seconds, m)
                runs[m].append(rec)
                res = rec["result"]
                print(f"{wl} seed={seed} trace={m} correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']} "
                      + " ".join(f"{k}={v:.4g}" for k, v in rec["end_to_end"].items()),
                      flush=True)
        rows = {}
        for name in bounds:
            s = summary([r["end_to_end"][name] for r in runs[modes[0]]])
            s["bound"] = bounds[name]
            if len(modes) == 2:
                traced = statistics.median(r["end_to_end"][name] for r in runs[1])
                s["trace_overhead"] = traced - s["median"]
            rows[name] = s
            print(f"  {wl:14s} {name:12s} median={s['median']:.4g} q1={s['q1']:.4g} "
                  f"q3={s['q3']:.4g} spread={s['spread']:.3f} bound={s['bound']}"
                  + (f" trace_overhead={s['trace_overhead']:+.4g}" if "trace_overhead" in s else ""),
                  flush=True)
        report[wl] = rows
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
