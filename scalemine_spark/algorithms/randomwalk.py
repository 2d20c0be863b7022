"""G12 — deterministic random-walk sampling (DeepWalk/node2vec corpus
generation) [training-data-pipeline mandate: walk corpora are the standard
input for graph-embedding training; BASELINE.json north_rule: link-graph
analytics over the edge table].

Semantics (normative): adjacency is the DEDUPLICATED (src, dst) edge set
with neighbors ranked by ascending dst (rank 0-based). From each seed s we
start `walks_per_seed` walks; walk (s, w) at vertex `cur` on step `t`
moves to the neighbor with rank

    r = (pmod(cur, 1000003)*31 + pmod(s, 1000003)*17 + w*7 + t*13) mod outdeg(cur)

— a fixed integer hash mix, NOT entropy: the whole walk corpus is a pure
function of (edges, seeds, walks_per_seed, length), so runs replay
bitwise, the DuckDB oracle can unroll the identical arithmetic, and a
resharded/rescaled cluster produces the identical corpus. All mix terms
are bounded (pmod caps the id terms at ~1e6) so the arithmetic never
overflows ANSI BIGINT. A walk that reaches a vertex with outdegree 0
stops (no further rows). Output: (seed, walk, step, vertex) — step 0 is
the seed itself.

Scale plan (100 TB): the ranked adjacency (src, rank, dst) is built
once — one window rank + one partial-agg count — partitioned AND sorted
on (src, rank), persisted; outdeg likewise on src. Each step is TWO
narrow-key equi-joins driven by the frontier (frontier ⋈ outdeg on src
to compute the chosen rank, then (cur, rank) ⋈ adjacency on BOTH keys),
so a hub of degree D costs one row lookup per walker, never a D-row
fan-out — and because the cached big sides already satisfy the joins'
required distribution and ordering, only the walker-sized frontier
shuffles per step; the E-sized side is never re-exchanged or re-sorted
(first cut cached on src alone and measured 1.8x slower at 60M/local[32]
from the per-step E re-shuffle — BENCH/new_algos_r5.json). Frontier size
is monotonically non-increasing (walks die at dead ends, never branch),
and steps are short (length ~ 10-80 for embedding corpora); each step is
one kernel iteration (iterate.py), which truncates lineage and observes
the frontier size on the step's one job.
"""

from __future__ import annotations

import time
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from scalemine_spark.iterate import iterate
from scalemine_spark.tuning import adaptive_partitions

_MIX_P = 1000003  # bounds the id terms so the mix never overflows BIGINT


def _chosen_rank(cur, seed, walk, step: int):
    mix = (
        F.pmod(cur, F.lit(_MIX_P)) * 31
        + F.pmod(seed, F.lit(_MIX_P)) * 17
        + walk * 7
        + F.lit(step) * 13
    )
    return F.pmod(mix, F.col("od"))


def random_walks(
    edges: DataFrame,
    seeds: Sequence[int],
    length: int = 10,
    walks_per_seed: int = 1,
    num_partitions: int | None = None,
) -> tuple[DataFrame, dict]:
    """Returns ((seed, walk, step, vertex) DF, info). Deterministic."""
    spark = edges.sparkSession
    # scale-adaptive loop width (round 6, guide §2) — same derivation and
    # rationale as pagerank._prepare / tuning.py module docstring
    p = num_partitions or adaptive_partitions(edges)

    adj = edges.select("src", "dst").distinct()
    # partition the persisted adjacency on BOTH join keys: the per-step
    # lookup joins on (cur, rnk), and a cache partitioned on src alone
    # would re-shuffle all E rows EVERY step (measured at 60M/local[32]:
    # ~25s/step before, see BENCH/new_algos_r5.json) — with hash(src, rnk)
    # the big side's output partitioning satisfies the join requirement
    # and only the frontier shuffles per step. Same for the V-sized odeg.
    ranked = (
        adj.withColumn(
            "rnk",
            F.row_number().over(Window.partitionBy("src").orderBy("dst")) - 1,
        )
        .repartition(p, "src", "rnk")
        .sortWithinPartitions("src", "rnk")
        .persist()
    )
    odeg = (
        adj.groupBy("src")
        .agg(F.count("*").alias("od"))
        .repartition(p, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    # A broadcast-frontier variant (hinting the walker side into both
    # joins) was A/B'd at 60M/100k walkers and measured no faster than
    # this shuffle path (BENCH/new_algos_r5.json: the cached-E probe scan
    # dominates either way, and the per-step driver collect adds cost);
    # production walker counts exceed any broadcast budget anyway, so the
    # shuffle plan is the only one kept.

    walks = spark.range(walks_per_seed).select(
        F.col("id").cast("int").alias("walk")
    )
    seed_df = (
        edges.sparkSession.createDataFrame(
            [(int(s),) for s in seeds], "seed long"
        )
        .crossJoin(walks)
    )
    frontier = seed_df.select(
        "seed", "walk", F.col("seed").alias("cur")
    ).localCheckpoint(eager=True)

    out = []  # the corpus: every materialized frontier, tagged with its step

    def at_step(frontier, t):
        return frontier.select(
            "seed", "walk", F.lit(t).alias("step"), F.col("cur").alias("vertex")
        )

    def step(frontier, t, prev):
        out.append(at_step(frontier, t))
        # phase 1: chosen rank from the walker's own state + outdeg only
        # (broadcast-sized frontier ⋈ odeg on src — no neighbor fan-out)
        stepped = frontier.join(
            odeg.withColumnRenamed("src", "cur"), "cur"
        ).select(
            "seed",
            "walk",
            "cur",
            _chosen_rank(F.col("cur"), F.col("seed"), F.col("walk"), t).alias(
                "rnk"
            ),
        )
        # phase 2: pure two-key equi-join picks exactly one neighbor row
        nxt = stepped.join(
            ranked.select(
                F.col("src").alias("cur"), "rnk", F.col("dst").alias("vertex")
            ),
            ["cur", "rnk"],
        ).select("seed", "walk", F.col("vertex").alias("cur"))
        return nxt, {"n": F.count(F.lit(1))}

    t0 = time.monotonic()
    loop = iterate(step, frontier, 0, length, name="walk_n", until=lambda s, _: s["n"] == 0)
    out.append(at_step(loop.state, len(loop.scalars)))

    corpus = reduce(lambda a, b: a.unionAll(b), out)
    frontier_sizes = [s["n"] for s in loop.scalars]
    info = {
        "steps_run": len(frontier_sizes),
        "frontier_sizes": frontier_sizes,
        "seconds": time.monotonic() - t0,
    }
    ranked.unpersist()
    odeg.unpersist()
    return corpus, info
