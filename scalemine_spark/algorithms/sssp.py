"""G10 — weighted single-source shortest paths (frontier Bellman-Ford) as
an iterative DataFrame job [BASELINE.json north_rule: link-graph analytics
over the edge table], and G7 — multi-source BFS hop distance, which is the
same loop with unit weights. Iteration control (resume, commit, the
observed improved-count, the empty-frontier stop) is the kernel's
(iterate.py).

Semantics (normative): directed weighted edges (src, dst, weight) with
non-negative integer (or exact-decimal) weights, source set S. After R
relaxation rounds, dist(v) = min total weight over directed paths from any
s in S to v of AT MOST R edges — the classic Bellman-Ford partial result,
well-defined whether or not the fixpoint has been reached
(info['converged'] says which). Vertices unreachable within R hops are
absent. With integer weights every operation is integer MIN / set algebra,
so the result is EXACTLY deterministic under any shuffle-merge order (the
same argument as G9; no floating accumulation anywhere).

Scale plan (100 TB): frontier Bellman-Ford — per round only the vertices
whose distance IMPROVED last round re-relax (`frontier join edges on src`,
reusing the edge cache's src partitioning; the V-sized dist table never
re-scans E). Per round: one E-touching join driven by the (usually small)
frontier, one partial-agg MIN per dst, one V-sized merge. Worst-case
rounds = longest shortest path in hops (bounded by max_rounds); on web
graphs effective diameter is small, so the frontier empties quickly.
Committed state per round is (id, dist, improved) where `improved` marks
the frontier — resume restores both the answer AND the work-list.
"""

from __future__ import annotations

import time
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scalemine_spark.checkpoint import CheckpointManager
from scalemine_spark.graph import vertex_ids
from scalemine_spark.iterate import iterate, materialize, resume
from scalemine_spark.tuning import adaptive_partitions


def sssp(
    edges: DataFrame,
    sources: Sequence[int],
    max_rounds: int = 64,
    weight_col: str = "weight",
    checkpointer: CheckpointManager | None = None,
) -> tuple[DataFrame, dict]:
    """Returns (dist DF (id, dist) for reached vertices only, info).

    `edges` must carry a non-negative `weight_col`; integer/long weights
    give the exactly-deterministic contract (doubles work but inherit the
    usual float-min caveats on exact ties).
    """
    return _relax(edges, F.col(weight_col), sources, max_rounds, checkpointer, "improved")


def bfs_hops(
    edges: DataFrame,
    sources: Sequence[int],
    max_hops: int = 64,
    checkpointer: CheckpointManager | None = None,
) -> tuple[DataFrame, dict]:
    """G7 — multi-source BFS hop distance: SSSP with unit weights.

    Returns (dist DF (id, dist long) for reached vertices only, info).
    dist(v) = length of the shortest directed path from any s in S to v;
    vertices unreachable within max_hops are absent, sources not in the
    graph are ignored. With unit weights a round's improved vertices are
    exactly the vertices first reached at that hop, so info's
    frontier_sizes[h-1] = #vertices at distance h (0 once converged).
    """
    dist, info = _relax(edges, F.lit(1).cast("long"), sources, max_hops, checkpointer, "frontier")
    return dist, {
        "hops": info["rounds_run"],
        "frontier_sizes": info["improved_sizes"],
        "seconds": info["seconds"],
    }


def _relax(edges, weight, sources, max_rounds, checkpointer, metric):
    """Frontier Bellman-Ford over (src, dst, weight); `metric` names the
    improved-count in the manifest metrics."""
    spark = edges.sparkSession
    # scale-adaptive loop width (round 6, guide §2; tuning.py docstring)
    p = adaptive_partitions(edges)

    # partition AND sort the cached edge table once: every round's
    # frontier⋈e sort-merge join then reuses the cached ordering instead
    # of re-sorting E per round (the G1/G6 edge-cache rule; the same miss
    # cost 1.8x on g12's lookup cache, BENCH/new_algos_r5.json)
    e = (
        edges.select("src", "dst", weight.alias("w"))
        .repartition(p, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    # seed lookup ONLY: the isin() filter pushes below the union+distinct,
    # so this never materializes the vertex table (round 6, guide §2.2 —
    # the former .repartition(p,"id").persist() paid a V-sized exchange
    # plus a full-V cache build to look up a handful of seed ids)
    verts = vertex_ids(e)

    state, _, start = resume(checkpointer, spark, max_rounds + 1)  # (id, dist, improved)
    if state is None:
        seeds = verts.filter(F.col("id").isin(list(sources))).select(
            "id",
            F.lit(0).cast("long").alias("dist"),
            F.lit(True).alias("improved"),
        )
        # iteration index 0 commits the seed table; rounds start at 1
        state = materialize(seeds, 0, checkpointer, {metric: -1.0})
        start = 1

    def step(state, it, prev):
        frontier = state.filter("improved").select(
            F.col("id").alias("src"), F.col("dist").alias("fdist")
        )
        # candidate dist via last round's improved vertices only; partial-agg
        # MIN shrinks the exchange before the V-sized merge
        cand = (
            e.join(frontier, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(F.col("fdist") + F.col("w")).alias("cand"))
        )
        merged = (
            state.select("id", "dist")
            .join(cand, "id", "full_outer")
            .select(
                "id",
                # Spark's least() skips NULLs (returns NULL only if all
                # inputs are), which is exactly the semantics we want for
                # "previously unreached" / "no candidate this round"
                F.least("dist", "cand").alias("dist"),
                (
                    F.col("dist").isNull()
                    | (F.col("cand") < F.col("dist"))
                ).alias("improved"),
            )
        )
        return merged, {"n": F.sum(F.col("improved").cast("long"))}

    t0 = time.monotonic()
    loop = iterate(
        step,
        state,
        start,
        max_rounds + 1,
        name="sssp",
        checkpointer=checkpointer,
        until=lambda s, _: s["n"] == 0,
        record=lambda s: {metric: s["n"]},
    )
    info = {
        "rounds_run": len(loop.scalars),
        "improved_sizes": [s["n"] for s in loop.scalars],
        "converged": loop.stopped,
        "seconds": time.monotonic() - t0,
    }
    e.unpersist()
    return loop.state.select("id", "dist"), info
