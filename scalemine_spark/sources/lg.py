"""S4 — GraMi/ScaleMine `.lg` text graph format compatibility source/sink.

Format (GraMi lineage, used by the ScaleMine repo's datasets):
    # t 1            (optional header/comment lines)
    v <id> <label>
    e <src> <dst> <label>

Parsed declaratively: spark.read.text -> split -> filter — stays entirely in
Catalyst (no Python row handling), so a 100 GB .lg file parses as a normal
distributed scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scalemine_spark.graph import vertex_ids


def read_lg(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Returns (vertices(id, label), edges(src, dst, label))."""
    lines = spark.read.text(path).select(F.split(F.col("value"), r"\s+").alias("p"))
    verts = (
        lines.filter(F.col("p")[0] == "v")
        .select(
            F.col("p")[1].cast("long").alias("id"),
            F.col("p")[2].cast("long").alias("label"),
        )
    )
    edges = (
        lines.filter(F.col("p")[0] == "e")
        .select(
            F.col("p")[1].cast("long").alias("src"),
            F.col("p")[2].cast("long").alias("dst"),
            F.coalesce(F.col("p")[3].cast("long"), F.lit(0)).alias("label"),
        )
    )
    return verts, edges


def write_lg(edges: DataFrame, path: str, vertex_label=None) -> None:
    """Serialize an (src, dst) edge DataFrame to `.lg` (labels default 0).
    Distributed text write; one file per partition."""
    verts = vertex_ids(edges).select(
        F.concat_ws(" ", F.lit("v"), F.col("id"), F.lit("0")).alias("value")
    )
    elines = edges.select(
        F.concat_ws(" ", F.lit("e"), F.col("src"), F.col("dst"), F.lit("0")).alias("value")
    )
    verts.union(elines).write.mode("overwrite").text(path)
