"""One-off profiler: where does the CC endgame's wall go at 60M edges?

The round-5 scaling protocol measured cc_endgame_seconds of 35-118s at
60M edges while the 6M-row microbenchmark measured 2.6s. This script runs
the SAME job as tools/scaling_bench.py (cold conf, zstd codec) but
instruments _endgame_star_forest phase by phase:
collect (toArrow), numpy union-find, Arrow->DataFrame, and reports the
observed pointer-set size the endgame actually received.

Usage: python tools/profile_cc_endgame.py [--cores 8] \
           [--edges .bench_cache/synth_edges_60M.parquet]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--edges", default=os.path.join(REPO, ".bench_cache/synth_edges_60M.parquet"))
    args = ap.parse_args()

    from scalemine_spark.session import get_spark
    from pyspark.sql import functions as F
    from scalemine_spark.algorithms import components as C

    spark = get_spark(
        "profile_endgame", cores=args.cores, shuffle_partitions=2 * args.cores,
        extra_conf={"spark.sql.adaptive.enabled": "false",
                    "spark.io.compression.codec": "zstd"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    edges = spark.read.parquet(args.edges).repartition(2 * args.cores, "src").persist()
    n_edges = edges.count()

    phases = {}
    orig = C._endgame_star_forest

    def instrumented(e):
        import numpy as np
        import pyarrow as pa

        sp = e.sparkSession
        t0 = time.monotonic()
        tbl = e.toArrow()
        phases["collect_toArrow"] = time.monotonic() - t0
        phases["rows_in"] = tbl.num_rows
        t0 = time.monotonic()
        u = tbl.column("u").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        v = tbl.column("v").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        phases["to_numpy"] = time.monotonic() - t0
        t0 = time.monotonic()
        ids, parent = C._unionfind_numpy(u, v)
        phases["unionfind"] = time.monotonic() - t0
        t0 = time.monotonic()
        mask = parent != np.arange(len(ids), dtype=np.int64)
        out = pa.table({"u": pa.array(ids[mask]), "v": pa.array(ids[parent[mask]])})
        phases["build_arrow_out"] = time.monotonic() - t0
        phases["rows_out"] = out.num_rows
        t0 = time.monotonic()
        df = sp.createDataFrame(out)
        phases["createDataFrame"] = time.monotonic() - t0
        return df, out.num_rows

    C._endgame_star_forest = instrumented
    try:
        t0 = time.monotonic()
        comps, cinfo = C.connected_components(edges)
        t_mid = time.monotonic() - t0
        n_comp = comps.agg(F.countDistinct("comp")).collect()[0][0]
        t_cc = time.monotonic() - t0
    finally:
        C._endgame_star_forest = orig

    print(json.dumps({
        "n_edges": n_edges, "n_components": n_comp,
        "t_cc_total": round(t_cc, 2),
        "t_cc_loop": round(t_mid, 2),
        "t_final_join_action": round(t_cc - t_mid, 2),
        "cc_rounds": cinfo["rounds"],
        "cc_round_seconds": cinfo["round_seconds"],
        "endgame_seconds_reported": cinfo["endgame_seconds"],
        "endgame_phases": {k: (round(v, 3) if isinstance(v, float) else v)
                           for k, v in phases.items()},
    }, indent=1))


if __name__ == "__main__":
    main()
