#!/usr/bin/env python
"""Per-section isolation harness for the optimization round (guide §1.4).

bench.py is FROZEN for measurement; this file exists so individual bench
sections can be timed and re-timed cheaply while optimizing, with
  * the same session / fixture / scale knobs as bench.py
    ($SPARK_GRAFT_SF_DIR, $SPARK_GRAFT_CPUS, $SPARK_GRAFT_BENCH_PAGES),
  * noop-sink timing for the DataFrame-valued sections (so the computation
    is timed, not a collect of the result),
  * optional .explain("formatted") capture per section (plans/r06/),
  * job descriptions so the SQL UI / event logs are attributable.

Usage:
  python bench_extra.py [section ...] [--reps N] [--explain DIR] [--tag T]
Sections: extract pagerank10 cc lpa3 triangles hits4 q_tpch1 q_join q_cosine
Prints one JSON line: {"sections": {name: [secs...]}, ...}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "135000"))

ALL = ["extract", "pagerank10", "cc", "lpa3", "triangles", "hits4",
       "q_tpch1", "q_join", "q_cosine"]


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    args = [a for a in sys.argv[1:]]
    reps = 2
    explain_dir = None
    tag = ""
    sections = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--reps":
            reps = int(args[i + 1]); i += 2
        elif a == "--explain":
            explain_dir = args[i + 1]; i += 2
        elif a == "--tag":
            tag = args[i + 1]; i += 2
        else:
            sections.append(a); i += 1
    if not sections:
        sections = ALL

    from pyspark.sql import functions as F

    from scalemine_spark.algorithms import (
        connected_components,
        hits,
        label_propagation,
        pagerank,
        triangle_count,
    )
    from scalemine_spark.extract import extract_edges
    from scalemine_spark.fixtures import materialize_pages
    from scalemine_spark.operators.similarity import cosine_topk
    from scalemine_spark.session import get_spark

    spark = get_spark("scalemine-bench-extra", cores=CPUS, shuffle_partitions=2 * CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    ppath, _ = materialize_pages(
        f"{SF_DIR}/documents.parquet", os.path.join(REPO, ".cache"),
        n_pages=BENCH_PAGES, seed=42,
    )
    pages = spark.read.parquet(ppath)
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    c = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    edges = extract_edges(pages).repartition(2 * CPUS, "src").persist()
    n_edges = edges.count()

    def explain(name, df):
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            p = os.path.join(explain_dir, f"{name}{('_' + tag) if tag else ''}.txt")
            with open(p, "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))

    out: dict[str, list[float]] = {}
    extra: dict[str, object] = {}

    def run(name, fn):
        for r in range(reps):
            spark.catalog.clearCache()
            edges.persist(); edges.count()
            spark.sparkContext.setJobDescription(f"{name} rep{r}")
            t0 = time.monotonic()
            fn()
            out.setdefault(name, []).append(round(time.monotonic() - t0, 3))
            spark.sparkContext.setJobDescription(None)

    for s in sections:
        if s == "extract":
            def _extract():
                e2 = extract_edges(pages)
                explain("extract", e2)
                noop(e2)
            run(s, _extract)
        elif s == "pagerank10":
            def _pr():
                ranks, info = pagerank(edges, fixed_iters=10)
                ranks.agg(F.sum("rank")).collect()
                extra["pr_iter_seconds"] = [round(x, 3) for x in info["iter_seconds"]]
                extra["pr_hub"] = {k: info[k] for k in ("hub_threshold", "n_hubs", "hub_reason")}
            run(s, _pr)
        elif s == "cc":
            def _cc():
                comps, info = connected_components(edges)
                comps.agg(F.countDistinct("comp")).collect()
                extra["cc_round_seconds"] = [round(x, 3) for x in info["round_seconds"]]
                extra["cc_endgame_seconds"] = info["endgame_seconds"]
            run(s, _cc)
        elif s == "lpa3":
            def _lpa():
                labels, _ = label_propagation(edges, iters=3)
                labels.agg(F.countDistinct("label")).collect()
            run(s, _lpa)
        elif s == "triangles":
            def _tri():
                df = triangle_count(edges)
                explain("triangles", df)
                extra["triangles"] = df.collect()[0]["triangles"]
            run(s, _tri)
        elif s == "hits4":
            def _hits():
                scores, _ = hits(edges, iters=4)
                scores.agg(F.sum("auth"), F.sum("hub")).collect()
            run(s, _hits)
        elif s == "q_tpch1":
            def _q1():
                df = li.groupBy("l_returnflag", "l_linestatus").agg(
                    F.sum("l_quantity"), F.sum("l_extendedprice"),
                    F.avg("l_discount"), F.count("*"))
                explain("q_tpch1", df)
                df.collect()
            run(s, _q1)
        elif s == "q_join":
            def _qj():
                df = o.join(c, o.o_custkey == c.c_custkey).groupBy("c_mktsegment").agg(
                    F.count("*"), F.sum("o_totalprice"))
                explain("q_join", df)
                df.collect()
            run(s, _qj)
        elif s == "q_cosine":
            def _qc():
                df = cosine_topk(emb, emb.filter(F.col("vec_id") < 8), k=5)
                explain("q_cosine", df)
                df.collect()
            run(s, _qc)
        else:
            raise SystemExit(f"unknown section {s}")

    med = {k: statistics.median(v) for k, v in out.items()}
    print(json.dumps({
        "sections": out, "median": {k: round(v, 3) for k, v in med.items()},
        "n_edges": n_edges, "cpus": CPUS, "sf_dir": SF_DIR,
        "loadavg": [round(x, 2) for x in os.getloadavg()], **extra,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
