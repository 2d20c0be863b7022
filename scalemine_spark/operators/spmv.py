"""U3 — vectorized SpMV partial-aggregation kernel via mapInArrow.

The PageRank inner product (edges ⋈ rank-weights → partial sums per dst) with
the per-partition combine done in Arrow/numpy instead of codegen'd
HashAggregate — the measured SpMV-throughput surface [BASELINE.json:2]. The
final cross-partition combine stays a tiny JVM groupBy over one row per
(partition, dst).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scalemine_spark.graph import vertex_ids


def spmv_partial_arrow(edges_w: DataFrame) -> DataFrame:
    """edges_w: (src, dst, w). Returns (dst, contrib) = SUM(w) GROUP BY dst,
    with the map-side combine in Arrow."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            tbl = pa.Table.from_batches([b]).select(["dst", "w"])
            g = tbl.group_by("dst").aggregate([("w", "sum")])
            yield from pa.Table.from_arrays(
                [g.column("dst"), g.column("w_sum")], names=["dst", "partial"]
            ).to_batches()

    partials = edges_w.mapInArrow(kernel, "dst long, partial double")
    return partials.groupBy("dst").agg(F.sum("partial").alias("contrib"))


def pagerank_first_contribs(edges: DataFrame) -> DataFrame:
    """One SpMV step from the uniform initial rank vector r0 = 1/N:
    contrib(dst) = Σ_{src→dst} (1/N)/outdeg(src). Oracle-checkable."""
    n = vertex_ids(edges).count()
    outd = edges.groupBy("src").agg(F.count("*").alias("od"))
    w = outd.select("src", (F.lit(1.0 / n) / F.col("od")).alias("w"))
    edges_w = edges.join(w, "src").select("src", "dst", "w")
    return spmv_partial_arrow(edges_w).select(
        "dst", F.round("contrib", 9).alias("contrib")
    )
