"""G6 — HITS (hubs & authorities) power iteration [BASELINE.json north_rule:
link-graph analytics over the edge table]. Iteration control (resume,
commit, the two observed L1 sums) is the kernel's (iterate.py).

Semantics (normative): directed deduplicated edge table (src, dst).
hub_0(u) = 1 for every vertex. Each synchronous iteration k:

    auth_raw_k(v) = sum over in-edges (u,v) of hub_{k-1}(u)
    auth_k  = auth_raw_k  / sum(auth_raw_k)          (L1 normalization)
    hub_raw_k(u) = sum over out-edges (u,v) of auth_raw_k(v)
    hub_k   = hub_raw_k / sum(hub_raw_k)

hub_k is computed from the UN-normalized auth_raw_k: the auth scale factor
cancels in hub's own L1 normalization, so the result is identical to the
textbook normalize-between-half-steps formulation while letting both
half-steps run on raw sums (division by the observed scalar is a literal
in the next iteration's plan — no extra job, no broadcast).

Scale plan (100 TB): the edge table is shuffled ONCE per join key
(e_by_src / e_by_dst, both persisted); each iteration is ONE materializing
job (round 6 — the auth half-step is a lazily-persisted subplan whose
cached partitions the single job computes exactly once for both consumers)
containing two partial-agg joins — join E with the V-sized score vector,
map-side-combine the sums, one exchange each. Both L1 sums ride the
materializing action as one Observation (zero extra jobs). Vertices with no in-edges have auth 0, no
out-edges hub 0; isolated endpoints still appear in the output (verts
comes from raw edge endpoints, same rule as PageRank/CC/LPA).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scalemine_spark.checkpoint import CheckpointManager
from scalemine_spark.graph import vertex_ids
from scalemine_spark.iterate import iterate, resume
from scalemine_spark.tuning import adaptive_partitions


def hits(
    edges: DataFrame,
    iters: int = 8,
    checkpointer: CheckpointManager | None = None,
    exact_sums: bool = False,
) -> tuple[DataFrame, dict]:
    """Returns (scores DF (id, auth, hub) L1-normalized, info).

    Committed state per iteration is the UN-normalized (id, auth_raw,
    hub_raw) with the two L1 sums in the manifest metrics — resume
    renormalizes from the metrics.

    exact_sums (same contract as pagerank's): accumulate every floating
    sum in the algorithm — the two grouped half-step sums and the two L1
    scalar Observations — in exact decimal(38,18), cast back to double.
    Double addition is not associative and Spark merges shuffled partials
    in fetch-timing order (measured here: an in-degree-4 key's sum flipped
    its last ulp between a run and its replay, ~1-in-7 crash-resume
    loops); decimal addition is associative, so with exact_sums=True a
    resumed replay is bit-identical BY CONSTRUCTION on any cluster
    (verified 12/12 loops). Default False: decimal SpMV measured 2.3-3x
    slower at 16M edges (BENCH/ab_exact_sums.json, same agg shape) and
    the score contract is allclose 1e-6, which double sums meet; the
    default replay contract is allclose 1e-12 (ulp-level merge jitter).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    spark = edges.sparkSession
    # scale-adaptive loop width (round 6, guide §2; tuning.py docstring)
    p = adaptive_partitions(edges)

    def _s(col):  # sum, optionally in exact (associative) decimal
        if exact_sums:
            return F.sum(col.cast("decimal(38,18)")).cast("double")
        return F.sum(col)

    # sortWithinPartitions pins within-partition row order (a hash exchange
    # alone leaves it to shuffle-fetch timing), which pins the per-key
    # float-summation order of every downstream partial agg — same
    # determinism contract as the PageRank edge cache; without it the
    # resumed run replays iterations against an identically-VALUED but
    # differently-ORDERED cache and lands 1 ulp off "bitwise identical".
    e = edges.select("src", "dst")
    e_by_src = e.repartition(p, "src").sortWithinPartitions("src", "dst").persist()
    e_by_dst = e.repartition(p, "dst").sortWithinPartitions("dst", "src").persist()
    verts = vertex_ids(e).repartition(p, "id").persist()

    state, manifest, start = resume(checkpointer, spark, iters)
    a_mats: list[DataFrame] = []  # the live auth half-step cache

    def step(state, it, prev):
        if state is None:
            hub = verts.select("id", F.lit(1.0).alias("hub"))
        else:
            hub = state.select("id", (F.col("hub_raw") / F.lit(prev["s_h"])).alias("hub"))
        # the previous iteration's cache served its job and is no longer read
        if a_mats:
            a_mats.pop().unpersist()

        # half-step 1: raw authority = sum of incoming hub mass.
        # e_by_src joins the V-sized hub vector on src (only the small side
        # shuffles), then partial-aggregates per dst before the exchange.
        a_raw = (
            e_by_src.join(hub.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(_s(F.col("hub")).alias("auth_raw"))
            .withColumnRenamed("dst", "id")
        )
        # a_raw is consumed twice below (join probe + state outer join) —
        # LAZY columnar persist instead of the round-5 eager localCheckpoint:
        # the SQL cache's block locks compute each cached partition exactly
        # once even with two consumers inside one job (the components.py
        # large-star rule), so the whole iteration — both half-steps — runs
        # as ONE materializing Spark job instead of two. Measured round 6
        # (warm rep at 2M edges/local[32], together with the adaptive loop
        # width, OPTIMIZATION_r06.md): hits4 7.4s -> 5.8s.
        a_mat = a_raw.persist()
        a_mats.append(a_mat)

        # half-step 2: raw hub = sum of outgoing RAW authority (scale factor
        # cancels in hub's own normalization), plus the combined state row.
        h_raw = (
            e_by_dst.join(a_mat.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(_s(F.col("auth_raw")).alias("hub_raw"))
            .withColumnRenamed("src", "id")
        )
        combined = (
            verts.join(a_mat, "id", "left")
            .join(h_raw, "id", "left")
            .select(
                "id",
                F.coalesce("auth_raw", F.lit(0.0)).alias("auth_raw"),
                F.coalesce("hub_raw", F.lit(0.0)).alias("hub_raw"),
            )
        )
        # BOTH L1 sums ride the single materializing action: s_a over the
        # combined state equals the sum over a_raw's rows exactly up to
        # float merge order (the extra rows are coalesced 0.0 terms), the
        # same 1e-12 replay tolerance the round-5 two-job form already
        # carried for shuffle-merge ordering.
        return combined, {"s_a": _s(F.col("auth_raw")), "s_h": _s(F.col("hub_raw"))}

    t0 = time.monotonic()
    loop = iterate(
        step,
        state,
        start,
        iters,
        name="hits_h",
        checkpointer=checkpointer,
        scalars=manifest["metrics"] if manifest is not None else None,
    )
    for a_mat in a_mats:
        a_mat.unpersist()
    last = loop.scalars[-1] if loop.scalars else manifest["metrics"]
    s_a, s_h = float(last["s_a"]), float(last["s_h"])
    scores = loop.state.select(
        "id",
        (F.col("auth_raw") / F.lit(s_a)).alias("auth"),
        (F.col("hub_raw") / F.lit(s_h)).alias("hub"),
    )
    info = {
        "iters_run": len(loop.scalars),
        "iter_seconds": loop.iter_seconds,
        "seconds": time.monotonic() - t0,
        "s_a": s_a,
        "s_h": s_h,
    }
    e_by_src.unpersist()
    e_by_dst.unpersist()
    verts.unpersist()
    return scores, info
