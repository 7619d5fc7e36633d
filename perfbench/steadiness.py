#!/usr/bin/env python3
"""Steadiness report: sets of benchmark runs of one commit, side by side.

    python3 perfbench/steadiness.py --out perfbench/STEADINESS.md

Each of two sets runs every workload of BENCHMARK.json once per seed
(seeds 1..10 in set 1, 11..20 in set 2), one run at a time, each in a fresh process started the way a
benchmark harness starts ``run.py``. The report gives per set and metric
the median, the quartiles (``statistics.quantiles(n=4)``) and the spread
(quartile distance / median), the drift of the last set's median from
set 1's, every run's numbers and wall time, and the environment: nproc,
versions and the load average around each set.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2
SEEDS = 10


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["wall_s"] = wall
    return result


def environment() -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 1e9, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java.splitlines()[0] if java else "?",
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "kernel": platform.release(),
    }


def quartiles(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sets = []
    for k in range(SETS):
        load_before = os.getloadavg()
        runs = {w: [] for w in workloads}
        for i in range(SEEDS):
            seed = k * SEEDS + i + 1
            for w in workloads:
                r = run_once(w, seed, bench["run_seconds"])
                print(json.dumps({"set": k + 1, "workload": w, "seed": seed, **r}), flush=True)
                runs[w].append(r)
        sets.append({"runs": runs, "load_before": load_before, "load_after": os.getloadavg()})

    lines = ["# Benchmark steadiness", ""]
    lines.append("Environment: " + ", ".join(f"{k} {v}" for k, v in environment().items()))
    lines.append("")
    lines.append(f"{SETS} sets x {SEEDS} seeds per workload, run_seconds "
                 f"{bench['run_seconds']}, one run at a time.")
    lines.append("")
    for k, s in enumerate(sets):
        walls = [r["wall_s"] for rs in s["runs"].values() for r in rs]
        lines.append(
            f"- set {k + 1}: loadavg before {[round(x, 2) for x in s['load_before']]}, "
            f"after {[round(x, 2) for x in s['load_after']]}; run wall median "
            f"{statistics.median(walls):.1f} s, total {sum(walls):.0f} s; "
            f"failed ops {sum(r['failed'] for rs in s['runs'].values() for r in rs)}"
        )
    lines.append("")
    head = "| workload | metric | bound |"
    rule = "|---|---|---|"
    for k in range(len(sets)):
        head += f" set {k + 1} median [q1, q3] | set {k + 1} spread |"
        rule += "---|---|"
    lines += [head + " drift of last set vs set 1 |", rule + "---|"]
    for w in workloads:
        for name, bound in bounds.items():
            row = f"| {w} | {name} | {bound} |"
            meds = []
            for s in sets:
                q1, med, q3 = quartiles([r["metrics"][name]["value"] for r in s["runs"][w]])
                meds.append(med)
                row += f" {med:.4g} [{q1:.4g}, {q3:.4g}] | {(q3 - q1) / med:.3f} |"
            lines.append(row + f" {meds[-1] / meds[0] - 1:+.3f} |")
    lines += [
        "",
        "spread = (q3 - q1) / median over the set's runs, q1 and q3 from",
        "`statistics.quantiles(values, n=4)`; drift = last set's median over the",
        "first set's, minus 1. A later change may not worsen any median by more",
        "than the metric's bound.",
        "",
        "| set | seed | workload | " + " | ".join(bounds) + " | attempted | failed | run wall s |",
        "|---|---|---|" + "---|" * (len(bounds) + 3),
    ]
    for k, s in enumerate(sets):
        for i in range(SEEDS):
            for w in workloads:
                r = s["runs"][w][i]
                vals = " | ".join(f"{r['metrics'][n]['value']:.4g}" for n in bounds)
                lines.append(
                    f"| {k + 1} | {k * SEEDS + i + 1} | {w} | {vals} | "
                    f"{r['attempted']} | {r['failed']} | {r['wall_s']:.1f} |"
                )
    text = "\n".join(lines) + "\n"
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text)
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
