"""G4 — triangle counting via degree-ordered wedge join [BASELINE.json:6].

Semantics (normative): undirected simple graph (canonicalized, self-loops
dropped). Every triangle counted once.

Degree ordering (SURVEY J7): orient each undirected edge from the endpoint
with (lower degree, lower id) to the higher — every wedge is built at its
lowest-degree corner, so a hub of degree D contributes O(D) directed edges
but almost no wedges, killing the quadratic hub blow-up that a naive
src-join would hit on a power-law web graph. The wedge close is a LEFT SEMI
join against the oriented edge set (no payload needed). Both joins are
sort-merge at scale; AQE skew-splits any residual hot key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scalemine_spark.graph import canonical_undirected, vertex_ids


def _oriented(edges: DataFrame) -> DataFrame:
    """Each undirected edge once, oriented low(deg,id) -> high(deg,id).

    Round-6 shuffle audit (guide §2.4): the un-persisted form recomputed
    the E-sized canonical-distinct subtree THREE times (once per consumer:
    the join probe and both degree-union branches) and the V-sized degree
    aggregate TWICE (da and db) — the formatted plan showed six separate
    dedup/agg Exchanges with no reuse. Persisting `und` and `deg` collapses
    that to ONE dedup exchange + ONE degree exchange; the da/db joins then
    read the degree cache, whose hash(id) partitioning satisfies both join
    sides (only `und`/`j` re-exchange per join key). plans/r06/triangles_*."""
    und = canonical_undirected(edges).persist()  # (a,b), a<b, distinct
    deg = (
        und.select(F.col("a").alias("id"))
        .union(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
        .persist()
    )
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("degb"))
    j = und.join(da, "a").join(db, "b")
    lo_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    return j.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
    )


def _closed_wedges(edges: DataFrame) -> DataFrame:
    # the oriented set feeds both wedge sides and the close: computed once.
    # It is not laid out on `lo` for the self-join: the planner broadcasts
    # one side under AQE, or re-exchanges both sides on `x`, so no plan
    # read that layout and its build paid an E-sized Exchange and Sort.
    o = _oriented(edges).persist()
    e1 = o.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    e2 = o.select(F.col("lo").alias("x"), F.col("hi").alias("z"))
    wedges = e1.join(e2, "x").filter(F.col("y") < F.col("z"))
    # close the wedge: (y,z) or (z,y) must be an oriented edge; since y<z is
    # id-order not degree-order, check both orientations via semi join on the
    # canonical pair.
    und = o.select(
        F.least("lo", "hi").alias("y"), F.greatest("lo", "hi").alias("z")
    )
    tri = wedges.join(und, ["y", "z"], "left_semi")
    return tri.select(F.col("x").alias("a"), F.col("y").alias("b"), F.col("z").alias("c"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count — one row (triangles BIGINT)."""
    return _closed_wedges(edges).agg(F.count("*").alias("triangles"))


def triangles_per_vertex(edges: DataFrame) -> DataFrame:
    """(id, triangles) for every vertex of the graph (0 included)."""
    tri = _closed_wedges(edges)
    corners = (
        tri.select(F.col("a").alias("id"))
        .unionAll(tri.select(F.col("b").alias("id")))
        .unionAll(tri.select(F.col("c").alias("id")))
    )
    per = corners.groupBy("id").agg(F.count("*").alias("triangles"))
    return vertex_ids(edges).join(per, "id", "left").select(
        "id", F.coalesce("triangles", F.lit(0)).alias("triangles")
    )
