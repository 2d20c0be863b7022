"""Round-6 prototype: PageRank state as a PERSIST CHAIN vs per-iteration
localCheckpoint.

localCheckpoint(eager) truncates lineage but returns the state with
UnknownPartitioning, so every iteration re-exchanges and re-sorts the
V-sized state for the contribs merge join. A lazy persist preserves the
join's hash(id) partitioning AND ordering through InMemoryRelation, so
iterations between truncation points should lose the state exchange+sort.
Lineage/analysis cost grows with chain depth, so the chain is truncated
with a localCheckpoint every TRUNC iterations.

This replicates pagerank's fixed_iters loop (no hubs, codegen SpMV) for
both variants on the bench edge fixture and prints per-iteration seconds.

Usage: python tools/proto_persist_chain.py [variant ...]
variants: lck (round-6 shipped), chain (persist chain, TRUNC=8)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
TRUNC = int(os.environ.get("PROTO_TRUNC", "8"))
ITERS = 10


def run_variant(spark, edges, variant):
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from scalemine_spark.tuning import adaptive_partitions

    p = adaptive_partitions(edges)
    e = edges.select("src", "dst").repartition(p, "src") \
        .sortWithinPartitions("src").persist()
    verts = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id"))).distinct()
        .join(e.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("out_deg")), "id", "left")
        .select("id", F.coalesce("out_deg", F.lit(0)).alias("out_deg"))
        .repartition(p, "id").persist()
    )
    vstats = verts.agg(F.count(F.lit(1)).alias("n")).collect()[0]
    n = int(vstats["n"])
    e.count()

    state = verts.withColumn("rank", F.lit(1.0 / n))
    if variant == "lck":
        state = state.localCheckpoint(eager=True)
    else:
        state = state.persist()
        state.count()
    d = 0.85
    scal = state.agg(
        F.sum(F.when(F.col("out_deg") == 0, F.col("rank")).otherwise(0.0)).alias("dm"),
    ).collect()[0]
    dangling = float(scal["dm"] or 0.0)

    iter_secs = []
    chain = [state]
    for it in range(ITERS):
        t0 = time.monotonic()
        w = state.filter(F.col("out_deg") > 0).select(
            F.col("id").alias("src"), (F.col("rank") / F.col("out_deg")).alias("w"))
        contribs = e.join(w, "src").groupBy("dst").agg(F.sum("w").alias("contrib"))
        base = (1.0 - d) / n + d * dangling / n
        new_state = (
            state.join(contribs, state.id == contribs.dst, "left")
            .select("id", "out_deg",
                    (F.lit(base) + d * F.coalesce(F.col("contrib"), F.lit(0.0))).alias("rank"),
                    F.col("rank").alias("pr"))
        )
        obs = Observation(f"{variant}_{it}")
        new_state = new_state.observe(
            obs,
            F.sum(F.abs(F.col("rank") - F.col("pr"))).alias("l1"),
            F.sum(F.when(F.col("out_deg") == 0, F.col("rank")).otherwise(0.0)).alias("dm"),
        ).select("id", "out_deg", "rank")
        if variant == "lck" or (it + 1) % TRUNC == 0:
            committed = new_state.localCheckpoint(eager=True)
            for h in chain:
                h.unpersist()
            chain = [committed]
        else:
            committed = new_state.persist()
            committed.count()
            chain.append(committed)
        dangling = float(obs.get["dm"] or 0.0)
        state = committed
        iter_secs.append(round(time.monotonic() - t0, 3))
    rank_sum = state.agg(F.sum("rank")).collect()[0][0]
    for h in chain:
        h.unpersist()
    e.unpersist()
    verts.unpersist()
    return iter_secs, rank_sum


def main():
    variants = sys.argv[1:] or ["lck", "chain", "lck", "chain"]
    from scalemine_spark.session import get_spark

    spark = get_spark("proto-chain", cores=CPUS, shuffle_partitions=2 * CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    from tools.profile_iter_r6 import EDGES, ensure_edges

    ensure_edges(spark)
    edges = spark.read.parquet(EDGES).repartition(2 * CPUS, "src").persist()
    edges.count()
    for i, v in enumerate(variants):
        spark.catalog.clearCache()
        edges.persist(); edges.count()
        secs, rsum = run_variant(spark, edges, v)
        print(json.dumps({f"{v}:{i}": {"iters": secs, "rank_sum": rsum}}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
