"""G10 — weighted single-source shortest paths (frontier Bellman-Ford) as
an iterative DataFrame job [BASELINE.json north_rule: link-graph analytics
over the edge table; same iterative contract as G1/G2/G7/G9: persisted
edge cache, lineage truncated every round, per-round checkpoint + metrics,
resumable mid-algorithm].

Semantics (normative): directed weighted edges (src, dst, weight) with
non-negative integer (or exact-decimal) weights, source set S. After R
relaxation rounds, dist(v) = min total weight over directed paths from any
s in S to v of AT MOST R edges — the classic Bellman-Ford partial result,
well-defined whether or not the fixpoint has been reached
(info['converged'] says which). Vertices unreachable within R hops are
absent. With integer weights every operation is integer MIN / set algebra,
so the result is EXACTLY deterministic under any shuffle-merge order (the
same argument as G7/G9; no floating accumulation anywhere).

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

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from scalemine_spark.checkpoint import CheckpointManager
from scalemine_spark.tuning import adaptive_partitions


def sssp(
    edges: DataFrame,
    sources: Sequence[int],
    max_rounds: int = 64,
    weight_col: str = "weight",
    checkpointer: CheckpointManager | None = None,
    num_partitions: int | None = None,
) -> tuple[DataFrame, dict]:
    """Returns (dist DF (id, dist) for reached vertices only, info).

    `edges` must carry a non-negative `weight_col`; integer/long weights
    give the exactly-deterministic contract (doubles work but inherit the
    usual float-min caveats on exact ties).
    """
    spark = edges.sparkSession
    # scale-adaptive loop width (round 6, guide §2) — same derivation and
    # rationale as pagerank._prepare / tuning.py module docstring
    p = num_partitions or adaptive_partitions(edges)

    # partition AND sort the cached edge table once: every round's
    # frontier⋈e sort-merge join then reuses the cached ordering instead
    # of re-sorting E per round (the G1/G6 edge-cache rule; the same miss
    # cost 1.8x on g12's lookup cache, BENCH/new_algos_r5.json)
    e = (
        edges.select("src", "dst", F.col(weight_col).alias("w"))
        .repartition(p, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    # seed lookup ONLY: the isin() filter pushes below the union+distinct,
    # so this never materializes the vertex table (round 6, guide §2.2 —
    # the former .repartition(p,"id").persist() paid a V-sized exchange
    # plus a full-V cache build to look up a handful of seed ids)
    verts = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )

    start = 0
    state = None  # (id, dist, improved)
    if checkpointer is not None:
        last = checkpointer.latest()
        if last is not None:
            state = checkpointer.read_state(spark, last)
            start = last + 1
    if state is None:
        state = verts.filter(F.col("id").isin(list(sources))).select(
            "id",
            F.lit(0).cast("long").alias("dist"),
            F.lit(True).alias("improved"),
        )
        if checkpointer is not None:
            state = checkpointer.commit(0, state, {"improved": -1.0})
            start = 1
        else:
            state = state.localCheckpoint(eager=True)
            start = 1

    improved_sizes: list[int] = []
    converged = False
    t0 = time.monotonic()
    for it in range(start, max_rounds + 1):
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
        obs = Observation(f"sssp_{it}")
        merged = merged.observe(
            obs, F.sum(F.col("improved").cast("long")).alias("n")
        )
        if checkpointer is not None:
            state = checkpointer.commit(it, merged, {})
        else:
            state = merged.localCheckpoint(eager=True)
        n_imp = int(obs.get["n"] or 0)
        if checkpointer is not None:
            checkpointer.amend_metrics(it, {"improved": float(n_imp)})
        improved_sizes.append(n_imp)
        if n_imp == 0:
            converged = True
            break

    if checkpointer is not None:
        checkpointer.flush()
    info = {
        "rounds_run": len(improved_sizes),
        "improved_sizes": improved_sizes,
        "converged": converged,
        "seconds": time.monotonic() - t0,
    }
    e.unpersist()
    return state.select("id", "dist"), info
