"""G9 — k-core decomposition (iterative peeling) as an iterative DataFrame
job [BASELINE.json north_rule: link-graph analytics over the edge table;
same iterative contract as G1/G2/G7: persisted edge cache, one logical
peel per committed round, lineage truncated every round, resumable].

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

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from scalemine_spark.checkpoint import CheckpointManager
from scalemine_spark.tuning import adaptive_partitions


def kcore(
    edges: DataFrame,
    k: int,
    max_peels: int = 64,
    checkpointer: CheckpointManager | None = None,
    num_partitions: int | None = None,
) -> tuple[DataFrame, dict]:
    """Returns (core DF (id, core_deg), info)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    spark = edges.sparkSession
    # scale-adaptive loop width (round 6, guide §2) — same derivation and
    # rationale as pagerank._prepare / tuning.py module docstring
    p = num_partitions or adaptive_partitions(edges)

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

    start = 0
    alive = None
    prev_n = None
    if checkpointer is not None:
        last = checkpointer.latest()
        if last is not None:
            alive = checkpointer.read_state(spark, last)  # (id, core_deg)
            prev_n = checkpointer.read_manifest(last)["row_count"]
            start = last + 1

    peel_sizes: list[int] = []
    converged = False
    t0 = time.monotonic()
    for it in range(start, max_peels):
        survivors = degrees(alive).filter(F.col("core_deg") >= k)
        obs = Observation(f"kcore_{it}")
        survivors = survivors.observe(obs, F.count(F.lit(1)).alias("n"))
        if checkpointer is not None:
            alive = checkpointer.commit(it, survivors, {})
        else:
            alive = survivors.localCheckpoint(eager=True)
        n = int(obs.get["n"] or 0)
        if checkpointer is not None:
            checkpointer.amend_metrics(it, {"alive": float(n)})
        peel_sizes.append(n)
        if n == 0 or (prev_n is not None and n == prev_n):
            converged = True
            break
        prev_n = n

    if checkpointer is not None:
        checkpointer.flush()
    info = {
        "k": k,
        "peels_run": len(peel_sizes),
        "alive_sizes": peel_sizes,
        "converged": converged,
        "seconds": time.monotonic() - t0,
    }
    und.unpersist()
    return alive, info
