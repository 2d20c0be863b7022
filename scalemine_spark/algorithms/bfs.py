"""G7 — multi-source BFS hop distance (unweighted SSSP) as an iterative
DataFrame job [BASELINE.json north_rule: link-graph analytics over the edge
table; same iterative contract as G1/G2: explicit partitioning, one
persisted edge cache, lineage truncated every iteration, per-iteration
checkpoint + metrics, resumable mid-algorithm].

Semantics (normative): directed edges (src, dst), source set S.
dist(v) = length of the shortest directed path from any s ∈ S to v
(hop count); vertices unreachable from S are absent from the output.
Sources not present in the graph's vertex set are ignored.

Scale plan (100 TB): classic frontier BFS — per iteration the E-sized side
is touched ONLY through the `frontier ⋈ edges` join, which reuses the
edge cache's src partitioning (the frontier, not the edge table, shuffles);
the new-vertex check is a left-anti join against the V-sized dist table.
Every operation is a set operation (distinct / anti-join / union) or a
first-reach assignment — no floating-point accumulation anywhere, so the
result is EXACTLY deterministic under any shuffle-merge order (unlike the
double-sum algorithms, which need exact_sums=True for bit-stable replay).

Committed state per iteration is the full (id, dist) table; the frontier
is recoverable as `dist == it` (a hop-BFS invariant), so resume needs no
separate frontier snapshot and the per-iteration frontier size rides the
checkpoint write as an Observation — ONE Spark job per iteration.
"""

from __future__ import annotations

import time
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from scalemine_spark.checkpoint import CheckpointManager
from scalemine_spark.tuning import adaptive_partitions


def bfs_hops(
    edges: DataFrame,
    sources: Sequence[int],
    max_hops: int = 64,
    checkpointer: CheckpointManager | None = None,
    num_partitions: int | None = None,
) -> tuple[DataFrame, dict]:
    """Returns (dist DF (id, dist) for reached vertices only, info)."""
    spark = edges.sparkSession
    # scale-adaptive loop width (round 6, guide §2) — same derivation and
    # rationale as pagerank._prepare / tuning.py module docstring
    p = num_partitions or adaptive_partitions(edges)

    # sorted cache: the per-hop frontier⋈e sort-merge join reuses the
    # cached ordering instead of re-sorting E every hop (G1/G6 rule)
    e = (
        edges.select("src", "dst")
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
    dist = None
    if checkpointer is not None:
        last = checkpointer.latest()
        if last is not None:
            dist = checkpointer.read_state(spark, last)
            start = last + 1
    if dist is None:
        dist = verts.filter(F.col("id").isin(list(sources))).select(
            "id", F.lit(0).cast("long").alias("dist")
        )
        if checkpointer is not None:
            # iteration index 0 commits the seed table; hops start at 1
            dist = checkpointer.commit(0, dist, {"frontier": -1.0})
            start = 1
        else:
            dist = dist.localCheckpoint(eager=True)
            start = 1

    frontier_sizes: list[int] = []
    t0 = time.monotonic()
    for it in range(start, max_hops + 1):
        frontier = dist.filter(F.col("dist") == it - 1).select(
            F.col("id").alias("src")
        )
        new = (
            e.join(frontier, "src")
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(dist, "id", "left_anti")
            .select("id", F.lit(it).cast("long").alias("dist"))
        )
        obs = Observation(f"bfs_{it}")
        grown = dist.union(new).observe(
            obs, F.sum(F.when(F.col("dist") == it, 1).otherwise(0)).alias("n")
        )
        if checkpointer is not None:
            dist = checkpointer.commit(it, grown, {})
        else:
            dist = grown.localCheckpoint(eager=True)
        n_new = int(obs.get["n"] or 0)
        if checkpointer is not None:
            checkpointer.amend_metrics(it, {"frontier": float(n_new)})
        frontier_sizes.append(n_new)
        if n_new == 0:
            break

    if checkpointer is not None:
        checkpointer.flush()
    info = {
        "hops": len(frontier_sizes),
        "frontier_sizes": frontier_sizes,
        "seconds": time.monotonic() - t0,
    }
    e.unpersist()
    return dist, info
