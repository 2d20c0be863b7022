"""G3 — synchronous label propagation [BASELINE.json:6,14].

Semantics (normative, SURVEY §2 G3): undirected graph; label_0(v) = v;
each iteration every vertex adopts the most frequent label among its
neighbors' previous labels, ties broken by the SMALLEST label
(deterministic — exact-match acceptance requires it). Isolated vertices
keep their label. Runs a fixed number of iterations or until fixpoint
(no label changed).

Kernel (SURVEY A6): groupBy(id, label).count() then
max(struct(cnt, -label)) — lexicographic struct max == (max count,
then min label) — all JVM-side, no window shuffle needed. Iteration
control (resume, commit, the observed changed-count, the fixpoint stop) is
the kernel's (iterate.py).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scalemine_spark.checkpoint import CheckpointManager
from scalemine_spark.iterate import iterate, loop_session, resume


def label_propagation(
    edges: DataFrame,
    iters: int | None = None,
    max_iters: int = 20,
    checkpointer: CheckpointManager | None = None,
    num_partitions: int | None = None,
) -> tuple[DataFrame, dict]:
    """Returns (labels DF (id, label), info). iters=None -> run to fixpoint
    (bounded by max_iters); iters=k -> exactly k synchronous iterations."""
    from scalemine_spark.tuning import adaptive_partitions

    # scale-adaptive loop width (round 6, guide §2) — same derivation and
    # rationale as pagerank._prepare / tuning.py module docstring; the loop
    # runs in its own session at that width, AQE off (iterate.loop_session)
    p = num_partitions or adaptive_partitions(edges)
    with loop_session(edges, p) as (edges, back):
        spark = edges.sparkSession

        # partitioned AND sorted once: every iteration's sym⋈labels hash join
        # reads the cache in place, and the sorted dst keys probe the labels'
        # hash table in runs (16M edges, in-process: 30.1 s per 2-iteration
        # call with the sort, 31.5 s without, 33.0 s in the caller's session).
        # Round 6 (guide §2.4 — share one exchange): symmetrize()'s distinct
        # paid its own (src,dst) exchange and the repartition a SECOND full-2E
        # exchange; repartitioning FIRST on dst lets the dedup run in place —
        # hash(dst) clusters every (src,dst) pair, so the aggregate's required
        # ClusteredDistribution(src,dst) is already satisfied (the subset rule)
        # and the cache build shuffles the 2E rows exactly once.
        e0 = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
        sym = (
            e0.union(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .repartition(p, "dst")
            .dropDuplicates(["src", "dst"])
            .sortWithinPartitions("dst")
            .persist()
        )
        # vertices come from the RAW edge endpoints (not sym, which drops
        # self-loops): a vertex appearing only in self-loop edges still exists and
        # keeps its own label throughout — consistent with pagerank / components.
        verts = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
            .repartition(p, "id")
            .persist()
        )

        stop = iters if iters is not None else max_iters
        labels, _, start = resume(checkpointer, spark, stop)
        if labels is None:
            labels = verts.select("id", F.col("id").alias("label"))

        def step(labels, it, prev):
            # neighbor labels: edge (src,dst) brings label(dst) to src
            # (both joins build on the vertex-sized side, as pagerank's do:
            # left to the planner, the AQE-off plan broadcast the 2E sym
            # cache and sort-merged labels ⋈ new)
            nbr = sym.join(
                labels.select(F.col("id").alias("dst"), "label").hint("shuffle_hash"), "dst"
            ).select(F.col("src").alias("id"), "label")
            # Two-level aggregate, partial-agg both levels. (A round-3 experiment
            # replaced this with one repartition(id) serving both groupBys
            # exchange-free; measured SLOWER at bench scale — once labels start
            # converging, neighbor labels repeat heavily and the (id,label)
            # partial aggregate collapses most of the 2E rows map-side, which the
            # blind repartition forfeits. Keep the partial-agg form.)
            counts = nbr.groupBy("id", "label").agg(F.count("*").alias("cnt"))
            new = counts.groupBy("id").agg(
                F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("m")
            ).select("id", (-F.col("m.neg")).alias("new_label"))
            # previous label rides along as `prev` -> changed-count is a scan-agg
            # observed on the materializing action
            new_labels = (
                labels.join(new.hint("shuffle_hash"), "id", "left")
                .select(
                    "id",
                    F.coalesce("new_label", "label").alias("label"),
                    F.col("label").alias("prev"),
                )
            )
            changed = F.sum(F.when(F.col("label") != F.col("prev"), 1).otherwise(0))
            return new_labels, {"changed": changed}

        t0 = time.monotonic()
        loop = iterate(
            step,
            labels,
            start,
            stop,
            name="lpa_changed",
            checkpointer=checkpointer,
            until=None if iters is not None else (lambda s, _: s["changed"] == 0),
        )
        info = {
            "iters": start + len(loop.scalars),
            "iters_run": len(loop.scalars),
            "seconds": time.monotonic() - t0,
            "last_changed": loop.scalars[-1]["changed"] if loop.scalars else -1,
        }
        labels = loop.state.select("id", "label")
        sym.unpersist()
        verts.unpersist()
        return back(labels), info
