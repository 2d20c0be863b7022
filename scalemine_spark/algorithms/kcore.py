"""G9 — k-core decomposition (iterative peeling) as an iterative DataFrame
job [BASELINE.json north_rule: link-graph analytics over the edge table].
One logical peel per committed round; iteration control (resume, commit,
the observed survivor count, the converged stop) is the kernel's
(iterate.py).

Semantics (normative): undirected simple view of the edge table
(dedup + self-loop drop + symmetrize). The k-core is the maximal subgraph
in which every vertex has degree >= k; computed by repeatedly deleting
vertices of degree < k until none remain. Output: (id, core_deg) for the
surviving vertices, where core_deg is the vertex's degree INSIDE the
converged core. All arithmetic is integer counting and set membership —
exactly deterministic under any shuffle-merge order.

Fixed-round contract: with max_peels=N the result after exactly N peels is
well-defined whether or not the peeling has converged (info['converged']
says which) — the driver oracle replays the same N unrolled peels in SQL,
so engine and oracle agree exactly by construction.

Scale plan (100 TB): each peel is degree-count (one partial-agg exchange
over the alive edge set) + two semi-joins that shrink the edge set; the
edge cache shuffles once up front and the ALIVE vertex table (V-sized,
monotonically shrinking) is what iterates. Peel count is bounded by the
degeneracy ordering depth — for web graphs typically O(10-100) rounds; the
max_peels cap plus the converged flag make the trade explicit rather than
open-ended.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scalemine_spark.checkpoint import CheckpointManager
from scalemine_spark.iterate import iterate, resume
from scalemine_spark.tuning import adaptive_partitions


def kcore(
    edges: DataFrame,
    k: int,
    max_peels: int = 64,
    checkpointer: CheckpointManager | None = None,
) -> tuple[DataFrame, dict]:
    """Returns (core DF (id, core_deg), info)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    spark = edges.sparkSession
    # scale-adaptive loop width (round 6, guide §2; tuning.py docstring)
    p = adaptive_partitions(edges)

    # undirected simple edge set, canonical (lo, hi) orientation
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .repartition(p, "a")
        .persist()
    )

    def degrees(alive: DataFrame | None) -> DataFrame:
        e = und
        if alive is not None:
            e = e.join(alive.withColumnRenamed("id", "a"), "a", "left_semi").join(
                alive.withColumnRenamed("id", "b"), "b", "left_semi"
            )
        return (
            e.select(F.col("a").alias("id"))
            .union(e.select(F.col("b").alias("id")))
            .groupBy("id")
            .agg(F.count("*").alias("core_deg"))
        )

    alive, manifest, start = resume(checkpointer, spark, max_peels)  # (id, core_deg)

    def step(alive, it, prev):
        return degrees(alive).filter(F.col("core_deg") >= k), {"n": F.count(F.lit(1))}

    t0 = time.monotonic()
    loop = iterate(
        step,
        alive,
        start,
        max_peels,
        name="kcore",
        checkpointer=checkpointer,
        scalars={"n": manifest["row_count"]} if manifest is not None else None,
        # converged: nothing left, or the last peel removed nothing
        until=lambda s, prev: s["n"] == 0 or (prev is not None and s["n"] == prev["n"]),
        record=lambda s: {"alive": s["n"]},
    )
    info = {
        "k": k,
        "peels_run": len(loop.scalars),
        "alive_sizes": [s["n"] for s in loop.scalars],
        "converged": loop.stopped,
        "seconds": time.monotonic() - t0,
    }
    und.unpersist()
    return loop.state, info
