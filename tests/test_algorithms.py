"""Golden algorithm tests (SURVEY §5.3): G1 vs numpy 1e-6, G2/G3 exact,
G4 exact — on micro-graphs and seeded random graphs."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from scalemine_spark import fixtures as FX
from scalemine_spark.algorithms import (
    connected_components,
    label_propagation,
    pagerank,
    triangle_count,
    triangles_per_vertex,
)
from tests.conftest import (
    components_oracle,
    edges_df,
    lpa_oracle,
    pagerank_numpy,
    triangles_oracle,
)

MICROS = {
    "line": FX.G_LINE,
    "two_cc": FX.G_TWO_CC,
    "star_hub": FX.G_STAR_HUB,
    "cycle_dangling": FX.G_CYCLE_DANGLING,
    "karate": FX.g_karate_like(),
}


@pytest.mark.parametrize("name", list(MICROS))
def test_pagerank_micro(spark, name):
    """Fixed-iteration parity: same update rule as the numpy oracle -> values
    agree to ~machine epsilon after the same number of iterations."""
    pairs = MICROS[name]
    ranks, info = pagerank(edges_df(spark, pairs), fixed_iters=15)
    got = {r["id"]: r["rank"] for r in ranks.collect()}
    exp = pagerank_numpy(pairs, iters=15)
    assert set(got) == set(exp)
    for v in exp:
        assert abs(got[v] - exp[v]) < 1e-9, (name, v, got[v], exp[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conservation


def test_pagerank_convergence_1e6(spark):
    """The acceptance bar [BASELINE.json:14]: per-vertex allclose 1e-6 vs the
    CONVERGED oracle, stopping on the engine's own L1 tolerance."""
    pairs = MICROS["karate"]
    ranks, info = pagerank(edges_df(spark, pairs), tol=1e-8, max_iters=200)
    got = {r["id"]: r["rank"] for r in ranks.collect()}
    exp = pagerank_numpy(pairs, iters=500, tol=1e-13)
    assert all(abs(got[v] - exp[v]) < 1e-6 for v in exp)
    assert info["iters"] < 200  # actually converged


@pytest.mark.parametrize("name", list(MICROS))
def test_components_micro(spark, name):
    pairs = MICROS[name]
    comps, info = connected_components(edges_df(spark, pairs))
    got = {r["id"]: r["comp"] for r in comps.collect()}
    assert got == components_oracle(pairs)
    assert info["converged"]


@pytest.mark.parametrize("name", list(MICROS))
def test_lpa_micro_fixed_iters(spark, name):
    pairs = MICROS[name]
    labels, _ = label_propagation(edges_df(spark, pairs), iters=3)
    got = {r["id"]: r["label"] for r in labels.collect()}
    assert got == lpa_oracle(pairs, 3)


@pytest.mark.parametrize("name", list(MICROS))
def test_triangles_micro(spark, name):
    pairs = MICROS[name]
    total_exp, per_exp = triangles_oracle(pairs)
    got_total = triangle_count(edges_df(spark, pairs)).collect()[0]["triangles"]
    assert got_total == total_exp
    got_per = {r["id"]: r["triangles"] for r in triangles_per_vertex(edges_df(spark, pairs)).collect()}
    assert got_per == per_exp


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_graph_invariants(spark, seed):
    pairs = FX.erdos(n=120, p=0.04, seed=seed)
    e = edges_df(spark, pairs)

    ranks, _ = pagerank(e, fixed_iters=10)
    s = ranks.agg(F.sum("rank")).collect()[0][0]
    assert abs(s - 1.0) < 1e-9

    comps, _ = connected_components(e)
    got = {r["id"]: r["comp"] for r in comps.collect()}
    assert got == components_oracle(pairs)

    total_exp, _ = triangles_oracle(pairs)
    assert triangle_count(e).collect()[0]["triangles"] == total_exp


def test_powerlaw_graph_exact(spark):
    pairs = FX.powerlaw(n=300, m=3, seed=5)
    e = edges_df(spark, pairs)
    comps, _ = connected_components(e)
    got = {r["id"]: r["comp"] for r in comps.collect()}
    assert got == components_oracle(pairs)

    ranks, _ = pagerank(e, fixed_iters=12)
    exp = pagerank_numpy(pairs, iters=12)
    got_r = {r["id"]: r["rank"] for r in ranks.collect()}
    assert all(abs(got_r[v] - exp[v]) < 1e-9 for v in exp)


def test_pagerank_hub_broadcast_path(spark):
    """Hub-broadcast join path must produce identical ranks."""
    pairs = FX.G_STAR_HUB + FX.G_CYCLE_DANGLING
    e = edges_df(spark, pairs)
    base, _ = pagerank(e, fixed_iters=12)
    hub, _ = pagerank(e, fixed_iters=12, hub_threshold=5)
    b = {r["id"]: r["rank"] for r in base.collect()}
    h = {r["id"]: r["rank"] for r in hub.collect()}
    assert all(abs(b[k] - h[k]) < 1e-12 for k in b)


def test_triangle_relabel_invariance(spark):
    pairs = FX.erdos(n=80, p=0.08, seed=3)
    perm = np.random.default_rng(9).permutation(1000)
    relabeled = [(int(perm[a]), int(perm[b])) for a, b in pairs]
    t1 = triangle_count(edges_df(spark, pairs)).collect()[0]["triangles"]
    t2 = triangle_count(edges_df(spark, relabeled)).collect()[0]["triangles"]
    assert t1 == t2


def test_prepare_fused_verts_corner_graph(spark):
    """Round 6: _prepare's one-pass verts build (union src->1 / dst->0 then
    one aggregate) must match the naive distinct+out_degrees+join form on a
    graph with a sink-only vertex, parallel edges, and a self-loop."""
    from scalemine_spark.algorithms.pagerank import _prepare

    pairs = [(1, 2), (1, 2), (2, 3), (3, 3), (4, 5), (7, 5)]  # 5 is sink-only
    e = edges_df(spark, pairs)
    _, verts = _prepare(e, 4)
    got = {r["id"]: r["out_deg"] for r in verts.collect()}
    exp = {}
    for s, d in pairs:
        exp[s] = exp.get(s, 0) + 1
        exp.setdefault(d, 0)
    assert got == exp, (got, exp)
