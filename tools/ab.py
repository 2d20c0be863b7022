#!/usr/bin/env python3
"""Interleaved, order-swapped A/B of the benchmark: a git ref against the
working tree.

    python3 tools/ab.py [--ref HEAD] [--workloads ingest,iterate,durable] \\
        [--pairs 10] [--seed 42] [--out BENCH/ab_<name>.json]

The ref's committed files are exported (``git archive``) to a fresh
directory under the temp dir; the working tree runs as it stands,
uncommitted changes included. Each pair runs ``perfbench/run.py`` once in
each tree at the benchmark's own run length, one process after the other,
for every workload in turn: pair 0 runs the ref first, pair 1 the working
tree first, and so on, so a drift of the host shows up as a spread rather
than as a gain. Ten pairs, the default, is what a claimed gain needs. Every pair's
end-to-end metrics are printed as they come in, then per workload and
metric the two medians, their relative difference, the quartile spread of
the ref's runs and the number of pairs the working tree won (the
direction is BENCHMARK.json's ``better``). ``--out`` keeps all of it,
each run's ``diag`` line (pass times, load, CPU steal) included.

An export rather than a ``git worktree``: it leaves nothing in the
repository's ``.git`` when a run is interrupted. Each tree keeps its own
``.perfbench_work/`` inputs, generated outside the timed metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=ROOT, check=True, capture_output=True, text=True
    ).stdout.strip()


def export(ref: str, dest: str) -> str:
    """Write the committed files of `ref` to `dest`; returns its commit id."""
    sha = _git("rev-parse", "--verify", f"{ref}^{{commit}}")
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise RuntimeError(f"git archive {sha} failed")
    return sha


def run_once(tree: str, workload: str, seed: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed)]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{cmd} in {tree} exited {proc.returncode}: {proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    return {
        "correct": result["correct"],
        "failed": result["failed"],
        "metrics": {k: m["value"] for k, m in result["metrics"].items()},
        "diag": json.loads(lines[-2])["diag"],
    }


def _quartile_spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q3 - q1


def summarize(runs: list[dict], better: dict[str, str]) -> dict:
    """Per workload and metric: medians, relative change, the ref's
    quartile spread and the pairs the working tree won."""
    out: dict[str, dict] = {}
    for wl in dict.fromkeys(r["workload"] for r in runs):
        pairs = [r for r in runs if r["workload"] == wl]
        out[wl] = {}
        for m in pairs[0]["ref"]["metrics"]:
            a = [p["ref"]["metrics"][m] for p in pairs]
            b = [p["work"]["metrics"][m] for p in pairs]
            ma, mb = statistics.median(a), statistics.median(b)
            sign = 1.0 if better.get(m, "lower") == "higher" else -1.0
            out[wl][m] = {
                "ref_median": ma,
                "work_median": mb,
                "change": (mb - ma) / ma if ma else None,
                "ref_quartile_spread": _quartile_spread(a),
                "work_wins": sum(sign * (y - x) > 0 for x, y in zip(a, b)),
                "pairs": len(pairs),
            }
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--ref", default="HEAD")
    ap.add_argument("--workloads", default="ingest,iterate,durable")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        better = {m["name"]: m["better"] for m in json.load(fh)["end_to_end"]}
    workloads = args.workloads.split(",")

    ref_tree = tempfile.mkdtemp(prefix="scalemine-ab-")
    runs: list[dict] = []
    try:
        sha = export(args.ref, ref_tree)
        print(f"ref {args.ref} = {sha[:12]} in {ref_tree}; work = {ROOT}", flush=True)
        for i in range(args.pairs):
            for wl in workloads:
                order = ("ref", "work") if i % 2 == 0 else ("work", "ref")
                rec = {"pair": i, "workload": wl, "order": list(order)}
                for side in order:
                    tree = ref_tree if side == "ref" else ROOT
                    rec[side] = run_once(tree, wl, args.seed)
                runs.append(rec)
                cells = "  ".join(
                    f"{m} {rec['ref']['metrics'][m]:.4g}->{rec['work']['metrics'][m]:.4g}"
                    for m in rec["ref"]["metrics"]
                )
                ok = rec["ref"]["correct"] and rec["work"]["correct"]
                print(f"pair {i} {wl:8s} {order[0]} first  {cells}  correct={ok}", flush=True)
    finally:
        shutil.rmtree(ref_tree, ignore_errors=True)

    summary = summarize(runs, better)
    for wl, metrics in summary.items():
        for m, s in metrics.items():
            change = "n/a" if s["change"] is None else f"{100 * s['change']:+.1f}%"
            print(
                f"{wl:8s} {m:12s} ref {s['ref_median']:.4g}  work {s['work_median']:.4g}  "
                f"{change}  ref IQR {s['ref_quartile_spread']:.3g}  "
                f"work better in {s['work_wins']}/{s['pairs']}"
            )
    if args.out:
        doc = {
            "command": "python3 tools/ab.py " + " ".join(argv if argv is not None else sys.argv[1:]),
            "ref": args.ref,
            "ref_commit": sha,
            "work_head": _git("rev-parse", "HEAD"),
            "work_dirty": bool(_git("status", "--porcelain", "--untracked-files=no")),
            "cores": len(os.sched_getaffinity(0)),
            "seed": args.seed,
            "finished_unix": time.time(),
            "summary": summary,
            "runs": runs,
        }
        with open(args.out, "w") as fh:
            json.dump(doc, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
