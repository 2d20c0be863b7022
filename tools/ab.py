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

    python3 tools/ab.py --holdout [--ref HEAD] [--pairs 3] [--out BENCH/holdout_<name>.json]

``--holdout`` runs the scale holdout instead of the benchmark, in the same
interleaved, order-swapped pairs: one process per tree and pair (4 cores,
8 shuffle partitions, 6g driver heap) generates the 16M-edge power-law
graph of ``fixtures.synth_edges_distributed`` (1.6M vertices, seed 42),
then times ``pagerank(fixed_iters=6)`` (its steady iteration is the median
of iterations 2-5), ``label_propagation(iters=2)`` and ``hits(iters=2)``,
each through an aggregate over its result. A pair takes about 5 minutes.
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


HOLDOUT_EDGES = 16_000_000


def holdout_child() -> dict:
    """One holdout measurement of the tree in the working directory."""
    sys.path.insert(0, os.getcwd())
    from pyspark.sql import functions as F

    from scalemine_spark.algorithms import hits, label_propagation, pagerank
    from scalemine_spark.fixtures import synth_edges_distributed
    from scalemine_spark.session import get_spark
    from scalemine_spark.tuning import adaptive_partitions

    spark = get_spark("ab-holdout", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    edges = synth_edges_distributed(spark, HOLDOUT_EDGES, HOLDOUT_EDGES // 10, seed=42)
    edges = edges.persist()
    diag = {"n_edges": edges.count(), "p": adaptive_partitions(edges)}
    metrics = {}

    t0 = time.monotonic()
    ranks, info = pagerank(edges, fixed_iters=6)
    diag["rank_sum"] = ranks.agg(F.sum("rank")).collect()[0][0]
    metrics["pagerank_s"] = time.monotonic() - t0
    metrics["pagerank_steady_s"] = statistics.median(info["iter_seconds"][2:])
    diag["pagerank_iter_s"] = info["iter_seconds"]

    t0 = time.monotonic()
    labels, _ = label_propagation(edges, iters=2)
    diag["labels"] = labels.agg(F.countDistinct("label")).collect()[0][0]
    metrics["labelprop_s"] = time.monotonic() - t0

    t0 = time.monotonic()
    scores, info = hits(edges, iters=2)
    diag["auth_sum"] = scores.agg(F.sum("auth")).collect()[0][0]
    metrics["hits_s"] = time.monotonic() - t0
    diag["hits_iter_s"] = info["iter_seconds"]
    spark.stop()
    ok = abs(diag["rank_sum"] - 1.0) <= 1e-6
    return {"correct": ok, "metrics": metrics, "diag": diag}


def run_holdout(tree: str) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--holdout-child"]
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "6g"}
    proc = subprocess.run(cmd, cwd=tree, env=env, capture_output=True, text=True, timeout=1800)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"holdout in {tree} exited {proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(lines[-1])


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
    ap.add_argument("--pairs", type=int, help="default 10, 3 with --holdout")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out")
    ap.add_argument("--holdout", action="store_true", help="the 16M-edge scale holdout")
    ap.add_argument("--holdout-child", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.holdout_child:
        print(json.dumps(holdout_child()), flush=True)
        return 0
    if args.pairs is None:
        args.pairs = 3 if args.holdout else 10
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        better = {m["name"]: m["better"] for m in json.load(fh)["end_to_end"]}
    workloads = ["holdout"] if args.holdout else args.workloads.split(",")

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
                    if args.holdout:
                        rec[side] = run_holdout(tree)
                    else:
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
