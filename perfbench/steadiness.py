#!/usr/bin/env python3
"""Run the benchmark repeatedly and summarise how steady it is.

    python3 perfbench/steadiness.py --out perfbench/evidence/steadiness.json \\
        [--workloads ingest,iterate,durable] [--runs 10] [--sets 2] [--seed N]

Each set runs every workload ``--runs`` times, one process after another,
from the repository root. Each run has its own seed (42, 43, ...), so the
spread takes in graph-to-graph variation as well as noise; with ``--seed``
every run uses that one seed, which measures repeatability alone. For
each set and end-to-end metric it records the median, the quartiles (as
``statistics.quantiles(values, n=4)`` gives them) and the spread, the
distance between the quartiles as a share of the median; across sets, the
relative difference of each set's median from the first set's. Per run it
keeps the ``diag`` line too (pass times, load average, CPU steal), so a run
taken on a busy host can be picked out.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    process_s = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{cmd} exited {proc.returncode}: {proc.stderr[-2000:]}")
    return {"workload": workload, "seed": seed, "process_s": process_s,
            "diag": json.loads(lines[-2])["diag"], "result": json.loads(lines[-1])}


def summarize(runs: list[dict], metrics: list[str]) -> dict:
    out: dict = {}
    for wl in sorted({r["workload"] for r in runs}):
        by_set: dict[int, list[dict]] = {}
        for r in runs:
            if r["workload"] == wl:
                by_set.setdefault(r["set"], []).append(r)
        sets = {}
        for s, rs in sorted(by_set.items()):
            row = {"runs": len(rs), "failed": sum(r["result"]["failed"] for r in rs),
                   "load1_max": max(max(r["diag"]["load1"]) for r in rs),
                   "steal_pct_max": max(r["diag"]["steal_pct"] for r in rs)}
            for m in metrics:
                vals = [r["result"]["metrics"][m]["value"] for r in rs]
                med = statistics.median(vals)
                q1, _, q3 = statistics.quantiles(vals, n=4)
                row[m] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}
            sets[s] = row
        first = sets[min(sets)]
        for s, row in sets.items():
            for m in metrics:
                row[m]["vs_first_set"] = row[m]["median"] / first[m]["median"] - 1.0
        out[wl] = sets
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seed", type=int, default=None, help="one seed for every run")
    args = ap.parse_args()
    bench = _bench()
    metrics = [m["name"] for m in bench["end_to_end"]]
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    runs = []
    for s in range(args.sets):
        for wl in workloads:
            for i in range(args.runs):
                seed = 42 + i if args.seed is None else args.seed
                r = run_once(wl, seed, bench["run_seconds"])
                r["set"] = s
                runs.append(r)
                print(json.dumps({k: r[k] for k in ("set", "workload", "seed")}
                                 | {m: round(r["result"]["metrics"][m]["value"], 4) for m in metrics}),
                      flush=True)
    summary = summarize(runs, metrics)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump({"summary": summary, "runs": runs}, fh, indent=1)
    print(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
