"""Round-6 scale-holdout A/B: verify the adaptive loop width does not
regress at a larger-than-bench scale (the driver's round-end measurement
may use a bigger SF). Generates a deterministic 16M-edge power-law graph
(fixtures.synth_edges_distributed), then alternates pagerank/lpa/hits
between num_partitions=None (adaptive) and the round-5 pinned session
width, in one session, reporting steady iteration seconds.

Usage: python tools/ab_scale_r6.py [n_edges] [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main():
    n_edges = int(sys.argv[1]) if len(sys.argv) > 1 else 16_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    from pyspark.sql import functions as F

    from scalemine_spark.algorithms import hits, label_propagation, pagerank
    from scalemine_spark.fixtures import synth_edges_distributed
    from scalemine_spark.session import get_spark
    from scalemine_spark.tuning import adaptive_partitions

    spark = get_spark("ab-scale-r6", cores=CPUS, shuffle_partitions=2 * CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    edges = synth_edges_distributed(spark, n_edges, n_edges // 10, seed=42).persist()
    real_edges = edges.count()
    print(json.dumps({"n_edges": real_edges,
                      "adaptive_p": adaptive_partitions(edges)}), flush=True)

    out = {}
    for r in range(reps):
        for tag, np_ in (("pinned64", 2 * CPUS), ("adaptive", None)):
            spark.catalog.clearCache()
            edges.persist(); edges.count()
            t0 = time.monotonic()
            ranks, info = pagerank(edges, fixed_iters=6, num_partitions=np_)
            ranks.agg(F.sum("rank")).collect()
            pr_wall = time.monotonic() - t0
            t0 = time.monotonic()
            labels, _ = label_propagation(edges, iters=2, num_partitions=np_)
            labels.agg(F.countDistinct("label")).collect()
            lpa_wall = time.monotonic() - t0
            t0 = time.monotonic()
            scores, _ = hits(edges, iters=2, num_partitions=np_)
            scores.agg(F.sum("auth")).collect()
            hits_wall = time.monotonic() - t0
            rec = {
                "pr_wall": round(pr_wall, 2),
                "pr_steady": [round(x, 3) for x in info["iter_seconds"][2:]],
                "pr_p": info["num_partitions"],
                "lpa_wall": round(lpa_wall, 2),
                "hits_wall": round(hits_wall, 2),
                "load1": round(os.getloadavg()[0], 1),
            }
            out.setdefault(tag, []).append(rec)
            print(json.dumps({f"{tag}:{r}": rec}), flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
