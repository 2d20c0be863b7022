"""G8 — personalized PageRank (random walk with restart to a seed set) as
an iterative DataFrame job [BASELINE.json north_rule: link-graph analytics
over the edge table]. Iteration control (resume, commit, the observed L1
delta and dangling mass, the tol stop) is the kernel's (iterate.py).

Semantics (normative): seed set S (the personalization vector is uniform
over S), damping d. With tele(v) = 1/|S ∩ V| for v ∈ S else 0:

    r_0(v)     = tele(v)
    r_{t+1}(v) = (1-d)·tele(v) + d·dangling_t·tele(v) + d·Σ_{u→v} r_t(u)/outdeg(u)
    dangling_t = Σ_{outdeg(u)=0} r_t(u)

i.e. both the restart mass and the dangling mass return to the SEED SET
(not uniformly to all vertices) — the standard personalized variant used
for seed-expansion / related-page queries on web graphs. Vertices outside
S that are unreachable from S keep rank exactly 0.0.

Scale notes: the per-iteration plan is global PageRank's (pagerank.py):
the same edge cache, shuffled on src and sorted once up front (the sort
pins the float-summation order, not the join), the same two
shuffled-hash joins built on the vertex-sized side — the rank/out_deg
slice for the SpMV, contribs for the update — and the same loop session
at the cache's width with AQE off, so the state stays co-partitioned with
the cache and the groupBy(dst) is a steady iteration's only Exchange
(build sizes, memory note and measurements are in pagerank.py's
docstring); the seed set is
embedded as an `isin` literal filter — callers pass a HANDFUL to a
few thousand seeds (the PPR use case); beyond ~100k seeds a broadcast-join
teleport table would be the right form, and this function refuses rather
than silently building a megabyte-scale plan literal. exact_sums follows
pagerank's contract: True = decimal(38,18) accumulation, merge-order-free
bit-identical replay (2.3-3x slower, BENCH/ab_exact_sums.json); False
(default) = double sums, replay contract allclose 1e-12.
"""

from __future__ import annotations

import time
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scalemine_spark.algorithms.pagerank import _prepare
from scalemine_spark.checkpoint import CheckpointManager
from scalemine_spark.iterate import iterate, loop_session, resume
from scalemine_spark.tuning import adaptive_partitions

_MAX_SEED_LITERALS = 100_000


def personalized_pagerank(
    edges: DataFrame,
    sources: Sequence[int],
    d: float = 0.85,
    tol: float = 1e-8,
    max_iters: int = 100,
    fixed_iters: int | None = None,
    checkpointer: CheckpointManager | None = None,
    exact_sums: bool = False,
) -> tuple[DataFrame, dict]:
    """Returns (ranks DF (id, rank), info dict)."""
    seeds = sorted(set(int(s) for s in sources))
    if not seeds:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    if len(seeds) > _MAX_SEED_LITERALS:
        raise ValueError(
            f"{len(seeds)} seeds exceeds the isin-literal budget "
            f"({_MAX_SEED_LITERALS}); join a teleport table instead"
        )

    # the loop's own session at the edge cache's width, AQE off (pagerank)
    p = adaptive_partitions(edges)
    with loop_session(edges, p) as (edges, back):
        spark = edges.sparkSession
        e, verts = _prepare(edges, p)

        def _s(col):  # sum, optionally in exact (associative) decimal
            if exact_sums:
                return F.sum(col.cast("decimal(38,18)")).cast("double")
            return F.sum(col)

        is_seed = F.col("id").isin(seeds)
        n_seed = verts.filter(is_seed).count()
        if n_seed == 0:
            raise ValueError("none of the seeds exist in the graph")
        tele = F.when(is_seed, F.lit(1.0 / n_seed)).otherwise(F.lit(0.0))

        stop = fixed_iters if fixed_iters is not None else max_iters
        state, manifest, start_iter = resume(checkpointer, spark, stop)  # (id, out_deg, rank)
        if state is None:
            state = verts.select("id", "out_deg", tele.alias("rank")).localCheckpoint(
                eager=True
            )
            scal = state.agg(
                _s(F.when(F.col("out_deg") == 0, F.col("rank")).otherwise(0.0)).alias("dm")
            ).collect()[0]
            dangling = float(scal["dm"] or 0.0)
        else:
            dangling = manifest["metrics"]["dm"]

        def step(state, it, prev):
            w = state.filter(F.col("out_deg") > 0).select(
                F.col("id").alias("src"), (F.col("rank") / F.col("out_deg")).alias("w")
            )
            contribs = (
                e.join(w.hint("shuffle_hash"), "src")
                .groupBy("dst")
                .agg(_s(F.col("w")).alias("contrib"))
            )
            restart = (1.0 - d) + d * prev["dm"]  # mass returning to the seed set
            new_state = state.join(
                contribs.hint("shuffle_hash"), state.id == contribs.dst, "left"
            ).select(
                "id",
                "out_deg",
                (tele * F.lit(restart) + d * F.coalesce(F.col("contrib"), F.lit(0.0))).alias(
                    "rank"
                ),
                F.col("rank").alias("pr"),
            )
            stats = {
                "l1": _s(F.abs(F.col("rank") - F.col("pr"))),
                "dm": _s(F.when(F.col("out_deg") == 0, F.col("rank")).otherwise(0.0)),
            }
            return new_state, stats, ["id", "out_deg", "rank"]

        t0 = time.monotonic()
        loop = iterate(
            step,
            state,
            start_iter,
            stop,
            name="ppr_stats",
            checkpointer=checkpointer,
            scalars={"dm": dangling},
            until=None if fixed_iters is not None else (lambda s, _: s["l1"] < tol),
            record=lambda s: {"dm": s["dm"], "l1_delta": s["l1"]},
        )
        info = {
            "iters_run": len(loop.scalars),
            "deltas": [float(s["l1"]) for s in loop.scalars],
            "n_seeds": n_seed,
            "seconds": time.monotonic() - t0,
        }
        e.unpersist()
        verts.unpersist()
        return back(loop.state.select("id", "rank")), info
