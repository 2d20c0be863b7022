"""Round-6 iteration profiler: time the pieces of one PageRank-style
iteration at bench scale and dump the steady-iteration executed plan.

Materializes the bench edge table to .bench_cache/edges_bench.parquet once
(so re-runs skip the 10s extraction), then runs pagerank(fixed_iters=10)
under the requested variant and prints per-iteration seconds + exchange
count of a steady iteration.

Usage: python tools/profile_iter_r6.py [variant ...]
variants: base (default), noaqe, p32, eager-off
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
EDGES = os.path.join(REPO, ".bench_cache", "edges_bench.parquet")


def ensure_edges(spark):
    if not os.path.exists(EDGES):
        from scalemine_spark.extract import extract_edges
        from scalemine_spark.fixtures import materialize_pages

        ppath, _ = materialize_pages(
            "/root/testdata/sf0.1/documents.parquet",
            os.path.join(REPO, ".cache"), n_pages=135000, seed=42)
        pages = spark.read.parquet(ppath)
        extract_edges(pages).write.mode("overwrite").parquet(EDGES)


def main():
    variants = sys.argv[1:] or ["base"]
    from scalemine_spark.algorithms import pagerank
    from scalemine_spark.session import get_spark

    out = {}
    import itertools
    for i, v in enumerate(variants):
        extra = {}
        if "noaqe" in v:
            extra["spark.sql.adaptive.enabled"] = "false"
        spark = get_spark(f"profile-iter-{v}-{i}", cores=CPUS,
                          shuffle_partitions=2 * CPUS, extra_conf=extra)
        spark.sparkContext.setLogLevel("ERROR")
        ensure_edges(spark)
        e = spark.read.parquet(EDGES)
        np = None
        if "p32" in v:
            np = 32
        elif "p16" in v:
            np = 16
        elif "p64" in v:
            np = 64
        e = e.repartition(2 * CPUS, "src").persist()
        e.count()
        if "conf32" in v:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
        t0 = time.monotonic()
        ranks, info = pagerank(e, fixed_iters=10, num_partitions=np)
        from pyspark.sql import functions as F
        ranks.agg(F.sum("rank")).collect()
        wall = time.monotonic() - t0
        out[f"{v}:{i}"] = {
            "wall": round(wall, 3),
            "iters": [round(x, 3) for x in info["iter_seconds"]],
            "hub": info.get("hub_reason"),
        }
        print(json.dumps({f"{v}:{i}": out[f"{v}:{i}"]}), flush=True)
        spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
