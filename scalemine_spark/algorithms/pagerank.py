"""G1 — PageRank as an iterative DataFrame job [BASELINE.json:6,14].

Semantics (normative, SURVEY §2 G1):
    N        = |vertices(edges)|        (distinct src ∪ dst)
    r_0(v)   = 1/N
    r_{t+1}(v) = (1-d)/N + d * ( Σ_{u→v} r_t(u)/outdeg(u) + dangling_t/N )
    dangling_t = Σ_{outdeg(u)=0} r_t(u)
    stop when Σ|r_{t+1}-r_t| < tol, or after max_iters / fixed_iters.

Scale design:
  * The SpMV is `edges ⋈ w ON src` (w = rank/out_deg) followed by
    `groupBy(dst).sum`, and the update is `state ⋈ contribs ON id=dst`.
    Both joins are hinted `shuffle_hash` on the vertex-sized side: each
    task builds one in-memory hash table and streams its partition of the
    edge cache (or of the state) through it, with no Sort on either side.
    Both builds are a task's ~V/p slice (w, and contribs), p the edge
    cache's width. The hint skips Spark's build-size check, and a
    hash join's build side does not spill, so a partition must hold its
    slice in executor memory. Left to the planner, an edge table under the
    auto-broadcast threshold was broadcast whole every iteration; the hints
    took a steady iteration from ~162 to ~139 ms and a 10-iteration call
    from 64 to 53 jobs (117k edges, 4 cores, traced benchmark runs). Over
    the threshold the planner chose sort-merge joins for both; at 16M
    edges and 1.6M vertices (fixtures.synth_edges_distributed, 4 cores,
    8 partitions, 3 interleaved pairs) the steady iteration went from
    3.32 to 3.13 s median. Larger graphs are not measured.
  * The loop runs in its own session (iterate.loop_session) at
    spark.sql.shuffle.partitions = p with AQE off. The committed state then
    keeps hashpartitioning(id, p) across localCheckpoint (under AQE it came
    back with UnknownPartitioning and was re-shuffled twice per iteration),
    so both joins read the state and the edge cache in place: a steady
    iteration's only Exchange is the V-sized partial aggregate
    groupBy(dst). Spark's partial aggregation makes hot dst keys cheap
    (each map task emits one partial per dst). A 10-iteration call takes
    15 job ids instead of 53, and at the 16M-edge holdout the steady
    iteration is faster too (BENCH/holdout_pr11.json).
  * Optional explicit hub handling (north rule "broadcast of high-degree hub
    vectors"): ranks of vertices with outdeg ≥ hub_threshold are broadcast
    and joined map-side against their (huge) edge fan-out, the long tail
    goes through the normal shuffle join. This removes the single hottest
    join key from the shuffle entirely.
  * edges are repartitioned on src once and persisted; the per-iteration join
    reuses that partitioning (no re-shuffle of the big side per iteration).

Iteration control — resume, a commit every iteration (write-behind),
lineage truncation, one materializing job with the L1 delta, dangling and
total mass observed on it, the tol stop — is the iteration kernel's
(iterate.py).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scalemine_spark.checkpoint import CheckpointManager
from scalemine_spark.graph import vertex_ids
from scalemine_spark.iterate import iterate, loop_session, resume
from scalemine_spark.tuning import adaptive_partitions


def _prepare(edges: DataFrame, p: int, weight_col: str | None = None):
    """vertices(id, out_deg) persisted; edges persisted partitioned on src,
    both at the loop width `p` (tuning.adaptive_partitions).

    With weight_col, `out_deg` is the vertex's total OUT-WEIGHT (double,
    Σ of its edge weights) instead of the edge count — every downstream
    use (dangling = out_deg==0, w = rank/out_deg, hub cutoff) reads
    through the same column, so the weighted variant reuses the exact
    iteration plan.
    """
    # partition the big side on src once, so no iteration shuffles it. The
    # sort is not for the join (a hash join streams the partition as
    # cached): it pins the row order within each partition, and with it
    # the order in which every dst's partial sum adds its float
    # contributions — a hash exchange alone leaves that order to shuffle
    # fetch timing, so a resumed call's re-built cache would sum in a
    # different order (same note in hits.py)
    cols = ["src", "dst"] + (
        [F.col(weight_col).cast("double").alias("ew")] if weight_col else []
    )
    e = edges.select(*cols).repartition(p, "src").sortWithinPartitions("src").persist()
    if weight_col:
        # float out-weights keep the two-pass build: fusing it would sum ew
        # in a different merge order than the committed round-5 plan
        outd = e.groupBy(F.col("src").alias("id")).agg(F.sum("ew").alias("out_deg"))
        verts = (
            vertex_ids(e)
            .join(outd, "id", "left")
            .select("id", F.coalesce("out_deg", F.lit(0)).alias("out_deg"))
            .repartition(p, "id")
            .persist()
        )
    else:
        # round 6 (guide §2.4): ONE aggregate replaces the former
        # distinct ∪ out_degrees ∪ left-join ∪ repartition chain — a src
        # endpoint contributes 1 to its out-degree, a dst endpoint 0 (so
        # sink-only vertices still appear, with out_deg 0). Integer sums,
        # so the values are bit-identical to the count/coalesce form;
        # saves one E-sized partial-agg exchange and a V-sized join per
        # invocation (2E rows partial-aggregate map-side either way).
        verts = (
            e.select(F.col("src").alias("id"), F.lit(1).alias("d"))
            .union(e.select(F.col("dst").alias("id"), F.lit(0).alias("d")))
            .groupBy("id")
            .agg(F.sum("d").alias("out_deg"))
            .repartition(p, "id")
            .persist()
        )
    return e, verts


def pagerank(
    edges: DataFrame,
    d: float = 0.85,
    tol: float = 1e-8,
    max_iters: int = 100,
    fixed_iters: int | None = None,
    checkpointer: CheckpointManager | None = None,
    hub_threshold: int | str | None = "auto",
    hub_floor: int = 1024,
    with_prev: bool = False,
    exact_sums: bool = False,
    weight_col: str | None = None,
) -> tuple[DataFrame, dict]:
    """Returns (ranks DF (id, rank), info dict with iters/deltas/edges_per_sec).

    fixed_iters: run exactly that many iterations, skip convergence checks
    (used by the driver-oracle query, which must be deterministic in shape).
    hub_threshold: 'auto' (default) picks the out-degree threshold from the
    degree distribution — vertices in roughly the top 1/1000 by out-degree
    (capped at 64k hubs so the broadcast rank slice stays ~1 MB), with a
    floor of 1024 so small/uniform graphs take the identical plain path.
    Hubless graphs (max out-degree < hub_floor) skip the exact top-K scan
    entirely — the max rides the |V| vertex aggregate, so 'auto' costs ZERO
    extra jobs there (round 3 measured the unconditional top-K pair at
    ~3.5s fixed overhead at sf0.1). Inflation guard: on the auto path a hub
    set beyond 2x the ~V/1000 target means degree ties defeated the
    quantile pick (near-uniform graph) — abandon the split; a user-PINNED
    int threshold is honored up to an absolute broadcast budget of 128k hub
    ids (~1 MB of longs) instead, so small graphs with a few hundred
    qualifying hubs keep their explicitly requested split. Measured at 60M
    power-law edges/local[8]: +20% steady-state throughput vs the plain
    shuffle join (BENCH/ab_pr_variants.json). Pass an int to pin the
    threshold, or None to disable the split.
    exact_sums: accumulate the SpMV contribution sum and the fused stats
    (l1/dangling/total) in exact decimal(38,18) instead of double. Double
    addition is not associative and shuffle-merge order is fetch-timing —
    a replay can land 1 ulp off the original run (measured on HITS, same
    agg shape); decimal addition is associative, making resumed replays
    bit-identical BY CONSTRUCTION on any cluster. Default False: the
    flagship metric is double-sum SpMV throughput and the score contract
    is allclose 1e-6, which double sums meet; cost of True is measured in
    BENCH/ab_pr_variants.json.
    weight_col: weighted PageRank — u's rank is distributed to its
    out-neighbors proportionally to edge weight (non-negative):
    r_{t+1}(v) = (1-d)/N + d*(Σ_u r_t(u)·w(u,v)/out_w(u) + dangling_t/N),
    dangling_t = Σ_{out_w(u)=0} r_t(u) (zero-total-out-weight vertices,
    including all-zero-weight ones, are dangling). The iteration plan is
    IDENTICAL to the unweighted one (out_deg becomes the out-weight column,
    the SpMV multiplies by ew before the same partial agg); weight_col=None
    preserves the unweighted path bit-for-bit.
    """
    # the loop's own session at the edge cache's width, AQE off: the
    # committed state stays co-partitioned with the cache (scale notes)
    p = adaptive_partitions(edges)
    with loop_session(edges, p) as (edges, back):
        spark = edges.sparkSession
        e, verts = _prepare(edges, p, weight_col)
        # one scalar job yields BOTH |V| and max out-degree — the max lets the
        # 'auto' hub cutoff skip its exact top-K scan entirely on hubless graphs
        # (measured round 3: the orderBy(desc).limit(K) + filter-count job pair
        # cost ~3.5s fixed at sf0.1/local[32] only to discover n_hubs == 0)
        vstats = verts.agg(
            F.count(F.lit(1)).alias("n"), F.max("out_deg").alias("mx")
        ).collect()[0]
        n = int(vstats["n"] or 0)
        max_out_deg = int(vstats["mx"] or 0)
        n_edges = e.count()
        if n == 0:
            return back(verts.select("id", F.lit(0.0).alias("rank"))), {"iters": 0, "n": 0}

        total_iters = fixed_iters if fixed_iters is not None else max_iters
        state, _, start_iter = resume(checkpointer, spark, total_iters)  # (id, out_deg, rank)
        if state is None:
            state = verts.withColumn("rank", F.lit(1.0 / n))

        n_hubs = 0
        hub_reason = None  # why no hub split is active (info['hub_reason'])
        target = min(65536, max(16, n // 1000))
        was_auto = hub_threshold == "auto"
        if was_auto:
            if max_out_deg < hub_floor:
                hub_reason = "below_hub_floor"
                # no vertex clears the floor — hubless graph, identical plan to
                # hub_threshold=None with ZERO extra jobs (the max rode vstats)
                hub_threshold = None
            else:
                # top ~V/1000 out-degree vertices (<= 64k: broadcast slice
                # ~1 MB), floor 1024. The cutoff is the EXACT K-th largest
                # out-degree (TakeOrdered over V rows — approxQuantile at
                # q=0.999 is useless on heavy tails: its 0.001 relative error
                # spans the entire hub region and collapses to the max).
                kth = (
                    verts.orderBy(F.col("out_deg").desc())
                    .limit(target)
                    .agg(F.min("out_deg").alias("thr"))
                    .collect()[0]["thr"]
                )
                hub_threshold = int(max(hub_floor, kth or 0))

        hubs = None
        if hub_threshold is not None:
            # hub_ids takes ALL vertices >= the cutoff, so degree ties can
            # inflate the set far beyond the intended size (worst case:
            # near-uniform graph with every degree >= the cutoff). Auto path:
            # > 2x target means the quantile pick was defeated — abandon.
            # Pinned path: honor the user up to an absolute ~1 MB broadcast
            # budget (128k long ids) — docstring has the rationale.
            hub_cap = 2 * target if was_auto else 131072
            hub_ids = verts.filter(F.col("out_deg") >= hub_threshold).select("id").persist()
            n_hubs = hub_ids.count()
            if n_hubs == 0 or n_hubs > hub_cap:
                # record WHY the split was dropped (info['hub_reason']) — and for
                # a user-PINNED threshold that hit the broadcast-budget cap,
                # warn loudly: silently flipping info['hub_threshold'] to None
                # was too easy to miss (round-4 advisory).
                hub_reason = (
                    "no_vertices_qualify" if n_hubs == 0
                    else ("tie_inflation" if was_auto else "broadcast_budget_cap")
                )
                if not was_auto and n_hubs > hub_cap:
                    import warnings

                    warnings.warn(
                        f"pagerank: pinned hub_threshold={hub_threshold} matches "
                        f"{n_hubs} vertices, over the {hub_cap}-id broadcast "
                        "budget — hub split disabled (plain shuffle join)",
                        RuntimeWarning,
                        stacklevel=2,
                    )
                hub_ids.unpersist()
                hub_threshold = None
            else:
                e_hub = e.join(F.broadcast(hub_ids), e.src == hub_ids.id, "left_semi").persist()
                e_tail = e.join(F.broadcast(hub_ids), e.src == hub_ids.id, "left_anti").persist()
                # materialize the split, then drop the unsplit cache — at scale
                # holding e AND its partition (e_hub ∪ e_tail) doubles edge memory
                e_hub.count()
                e_tail.count()
                e.unpersist()
                hubs = (hub_ids, e_hub, e_tail)

        t0 = time.monotonic()

        # one-time scalar pass; thereafter dangling/total come from the fused
        # per-iteration observation (mass is conserved, so the stats of the
        # committed state feed the next iteration's update).
        def _s(col):  # sum, optionally in exact (associative) decimal
            if exact_sums:
                return F.sum(col.cast("decimal(38,18)")).cast("double")
            return F.sum(col)

        scal = state.agg(
            _s(F.when(F.col("out_deg") == 0, F.col("rank")).otherwise(0.0)).alias("dm"),
            _s(F.col("rank")).alias("total"),
        ).collect()[0]
        dangling = float(scal["dm"] or 0.0)

        def step(state, it, prev):
            w = state.filter(F.col("out_deg") > 0).select(
                F.col("id").alias("src"), (F.col("rank") / F.col("out_deg")).alias("w")
            )
            if hubs is not None:
                hub_ids, e_hub, e_tail = hubs
                w_hub = w.join(F.broadcast(hub_ids), w.src == hub_ids.id, "left_semi")
                contrib_in = e_hub.join(F.broadcast(w_hub), "src").unionByName(
                    e_tail.join(w.hint("shuffle_hash"), "src")
                )
            else:
                contrib_in = e.join(w.hint("shuffle_hash"), "src")
            cexpr = F.col("w") * F.col("ew") if weight_col else F.col("w")
            contribs = contrib_in.groupBy("dst").agg(_s(cexpr).alias("contrib"))

            # `base` changes every iteration and is shipped as a plain literal:
            # measured (tools A/B, round 2) the literal is ~0.2s/iter FASTER than
            # the broadcast-1-row-relation alternative — the tiny broadcast job
            # costs more than any codegen recompilation the changing literal
            # causes on Spark 4.1.
            base = (1.0 - d) / n + d * prev["dm"] / n
            new_state = (
                state.join(contribs.hint("shuffle_hash"), state.id == contribs.dst, "left")
                .select(
                    "id",
                    "out_deg",
                    (F.lit(base) + d * F.coalesce(F.col("contrib"), F.lit(0.0))).alias("rank"),
                    F.col("rank").alias("pr"),
                )
            )
            # fused stats ride the materializing action (the kernel's
            # Observation): L1 delta vs previous vector, next iteration's
            # dangling mass, and total mass for the invariant check.
            stats = {
                "l1": _s(F.abs(F.col("rank") - F.col("pr"))),
                "dm": _s(F.when(F.col("out_deg") == 0, F.col("rank")).otherwise(0.0)),
                "total": _s(F.col("rank")),
            }
            # `pr` exists only to feed the L1 delta, which the CollectMetrics
            # node computes upstream — drop it from the committed state so the
            # next iteration's join shuffle and the checkpoint ship 3 columns,
            # not 4 (the U6 cogroup consumer passes with_prev=True and keeps the
            # previous vector). Measured at 16M/local[8] (BENCH/ab_state_slim.json):
            # -8% committed-state bytes, -3.3% steady-state iteration wall —
            # modest because the row-cache per-row overhead, not the dropped
            # double, dominates.
            return new_state, stats, None if with_prev else ["id", "out_deg", "rank"]

        loop = iterate(
            step,
            state,
            start_iter,
            total_iters,
            name="pr_stats",
            checkpointer=checkpointer,
            scalars={"dm": dangling},
            until=None if fixed_iters is not None else (lambda s, _: s["l1"] < tol),
            record=lambda s: {
                "l1_delta": s["l1"],
                "dangling_mass": s["dm"],
                "total_mass": s["total"],
                "edges": float(n_edges),
            },
        )
        state = loop.state
        elapsed = time.monotonic() - t0
        iters_run = len(loop.scalars)
        info = {
            "iters": start_iter + iters_run,
            "iters_run": iters_run,
            "n_vertices": n,
            "n_edges": n_edges,
            "deltas": [float(s["l1"]) for s in loop.scalars],
            "iter_seconds": loop.iter_seconds,
            "seconds": elapsed,
            "edges_per_sec": (n_edges * iters_run / elapsed) if elapsed > 0 else float("nan"),
            "hub_threshold": hub_threshold,
            "n_hubs": n_hubs,
            "hub_reason": hub_reason,
            "num_partitions": p,
        }
        # with_prev exposes the previous iteration's vector too (id, rank, pr) —
        # the U6 cogroup consumer diffs consecutive snapshots without a join.
        ranks = state.select("id", "rank", "pr") if with_prev else state.select("id", "rank")
        e.unpersist()
        verts.unpersist()
        if hubs is not None:
            hubs[0].unpersist()
            hubs[1].unpersist()
            hubs[2].unpersist()
        return back(ranks), info
