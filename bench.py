#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line.

Runs the engine's headline pipeline at bench scale on local[$SPARK_GRAFT_CPUS]:
  1. extract      — synthetic Common-Crawl-style pages -> edge table
                    (Stage A, vectorized pandas UDFs; pages generation itself
                    is cached and NOT timed, extraction is)
  2. pagerank10   — 10 fixed power iterations (the SpMV-throughput metric)
  3. cc           — large-star/small-star to convergence
  4. lpa3         — 3 synchronous label-propagation iterations
  5. triangles    — degree-ordered wedge-join count
plus three relational headliners at $SPARK_GRAFT_SF_DIR:
  6. q_tpch1      — TPC-H-Q1-shaped aggregation on lineitem
  7. q_join       — orders x customer join+agg
  8. q_cosine     — brute-force cosine top-k over embeddings

Headline metric: PageRank SpMV throughput in edges/sec (BASELINE.json:2).
`value` is the STEADY-STATE eps (median per-iteration SpMV time pooled
across reps, first two iterations of each rep excluded) — the number that
describes the committed engine rather than JVM/codegen warmup; round-4
verdict: the warmup-inclusive total (559k recorded vs 1.29M judge-reproduced
warm) understated the engine 2.3x. The warmup-inclusive median-rep total
is kept as `value_total` for trend comparison with BENCH_r01-r04.

Contention robustness (round-3 postmortem: the driver's recorded r03 headline
was 3.1x off because another 32-core job shared the host during the single
timed pass): every section now runs $SPARK_GRAFT_BENCH_REPS (default 3)
INTERLEAVED repetitions — rep 1 of every section completes before rep 2 of
any section starts, so a transient load burst degrades one whole rep, not
one section. Reported per-section time is the MEDIAN across reps; the
headline also gets a steady-state variant (median per-iteration SpMV time
over all reps, first two iterations of each rep excluded — immune to
one-time plan/codegen warmup AND to any single contaminated rep) and the
run logs os.getloadavg() around every rep so a contaminated recording is
identifiable post-hoc (load >> $SPARK_GRAFT_CPUS at rep start means another
job shared the box).

The scaling-efficiency protocol (local[8] vs local[32]) reuses this file via
SPARK_GRAFT_CPUS — see BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "135000"))  # ~2M edges
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
# extraction is the most expensive single section — cap its reps at 2
EXTRACT_REPS = min(REPS, 2)


def main() -> None:
    from pyspark.sql import functions as F

    from scalemine_spark.algorithms import (
        connected_components,
        hits,
        label_propagation,
        pagerank,
        triangle_count,
    )
    from scalemine_spark.extract import extract_edges
    from scalemine_spark.fixtures import materialize_pages
    from scalemine_spark.operators.similarity import cosine_topk
    from scalemine_spark.session import get_spark

    spark = get_spark("scalemine-bench", cores=CPUS, shuffle_partitions=2 * CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0

    ppath, _ = materialize_pages(
        f"{SF_DIR}/documents.parquet", os.path.join(REPO, ".cache"), n_pages=BENCH_PAGES, seed=42
    )
    pages = spark.read.parquet(ppath)
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    reps: dict[str, list[float]] = {}
    loadavg: list[list[float]] = []
    extract_load: list[list[float]] = []
    pr_iter_secs: list[float] = []  # pooled steady-state samples across reps
    cc_rounds = 0
    n_edges = 0
    n_tri = 0
    edges = None

    def record(name: str, secs: float) -> None:
        reps.setdefault(name, []).append(secs)

    for rep in range(REPS):
        loadavg.append([round(x, 2) for x in os.getloadavg()])

        if rep > 0:
            # drop EVERY cache the previous rep left behind. Without this,
            # Spark's cache manager substitutes rep N's cached subplans into
            # rep N+1's identical plans (measured: rep-1 'extract' fell to
            # 0.7s vs 11.6s real, 'triangles' to 1.3s vs 5.0s via the leaked
            # orientation cache) and later reps measure cache reads, not work.
            spark.catalog.clearCache()

        # ---- Stage A: pages -> edges (generation cached, extraction timed)
        if rep < EXTRACT_REPS:
            # extract runs only EXTRACT_REPS(=2) reps (its 'median' is a
            # 2-sample mean) — bracket it with its own load samples so a
            # burst INSIDE the section is attributable post-hoc
            extract_load.append([round(x, 2) for x in os.getloadavg()])
            t0 = time.monotonic()
            edges = extract_edges(pages).repartition(2 * CPUS, "src").persist()
            n_edges = edges.count()
            record("extract", time.monotonic() - t0)
            extract_load.append([round(x, 2) for x in os.getloadavg()])
        else:
            edges.persist()
            n_edges = edges.count()  # re-warm the edge cache, untimed

        # ---- graph algorithms ----
        t0 = time.monotonic()
        ranks, pr_info = pagerank(edges, fixed_iters=10)
        ranks.agg(F.sum("rank")).collect()
        record("pagerank10", time.monotonic() - t0)
        pr_iter_secs.extend(pr_info["iter_seconds"][2:])

        t0 = time.monotonic()
        comps, cc_info = connected_components(edges)
        comps.agg(F.countDistinct("comp")).collect()
        record("cc", time.monotonic() - t0)
        cc_rounds = cc_info["rounds"]

        t0 = time.monotonic()
        labels, _ = label_propagation(edges, iters=3)
        labels.agg(F.countDistinct("label")).collect()
        record("lpa3", time.monotonic() - t0)

        t0 = time.monotonic()
        n_tri = triangle_count(edges).collect()[0]["triangles"]
        record("triangles", time.monotonic() - t0)

        t0 = time.monotonic()
        scores, _ = hits(edges, iters=4)
        scores.agg(F.sum("auth"), F.sum("hub")).collect()
        record("hits4", time.monotonic() - t0)

        # ---- relational headliners on the driver's sf tables ----
        t0 = time.monotonic()
        li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_quantity"), F.sum("l_extendedprice"), F.avg("l_discount"), F.count("*")
        ).collect()
        record("q_tpch1", time.monotonic() - t0)

        t0 = time.monotonic()
        o.join(c, o.o_custkey == c.c_custkey).groupBy("c_mktsegment").agg(
            F.count("*"), F.sum("o_totalprice")
        ).collect()
        record("q_join", time.monotonic() - t0)

        t0 = time.monotonic()
        cosine_topk(emb, emb.filter(F.col("vec_id") < 8), k=5).collect()
        record("q_cosine", time.monotonic() - t0)

    # closing sample: contention that starts mid-final-rep would otherwise
    # be invisible (rep-START samples only) and the flag would miss it
    loadavg.append([round(x, 2) for x in os.getloadavg()])

    med = {k: statistics.median(v) for k, v in reps.items()}
    # headline: median-rep total-wall SpMV eps, plus the steady-state variant
    pr_eps = statistics.median(n_edges * 10 / t for t in reps["pagerank10"])
    pr_eps_steady = n_edges / statistics.median(pr_iter_secs)
    # cc throughput is WALL-based (n_edges / t_cc, one full-convergence job),
    # NOT rounds-multiplied: the union-find endgame (round 5) replaces tail
    # rounds with a driver-side solve, so `rounds` is an implementation
    # detail that changed across rounds — a rounds-multiplied eps would
    # read as a regression exactly when the algorithm got faster.
    cc_eps = statistics.median(n_edges / t for t in reps["cc"])

    out = {
        "metric": "pagerank_spmv_edges_per_sec",
        # judged headline = steady-state (module docstring; VERDICT r4 #1).
        # value_total is the old warmup-inclusive median-rep figure, kept
        # for cross-round trend comparison against BENCH_r01-r04.
        "value": round(pr_eps_steady, 1),
        "unit": "edges/sec",
        "queries": {k: round(v, 3) for k, v in med.items()},
        "sf": sf,
        "total_sec": round(sum(med.values()), 3),
        "n_edges": n_edges,
        "n_pages": BENCH_PAGES,
        "cpus": CPUS,
        "reps": REPS,
        "value_steady": round(pr_eps_steady, 1),
        "value_total": round(pr_eps, 1),
        "rep_queries": {k: [round(x, 3) for x in v] for k, v in reps.items()},
        "loadavg_per_rep": loadavg,
        "loadavg_extract": extract_load,
        # the bench's own load1 at rep starts measured <= 0.6*CPUS (sections
        # have serial phases and load1 is a 1-min EMA); anything clearly above
        # CPUS means another job shared the host and the recorded numbers
        # understate the engine. Calibrated on an induced 32-thread burst:
        # quiet max 19.5, contended sample 41 at CPUS=32 -> 1.25x threshold.
        "contended": bool(max(l[0] for l in loadavg + extract_load) > 1.25 * CPUS),
        "cc_rounds": cc_rounds,
        "cc_edges_per_sec": round(cc_eps, 1),
        "pr_iters": 10,
        "triangles": int(n_tri),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
