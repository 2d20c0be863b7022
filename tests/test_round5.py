"""Round-5 regression tests: CC tail-round fusion, k-means codebook
operator (d12), asof auto-dispatch (j9c), streaming edge extraction (t7),
pagerank hub_reason reporting."""

import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import edges_df
from tests.test_round4 import _clustered_emb


# ---------------------------------------------------------------------------
# g2 — CC tail-round fusion
# ---------------------------------------------------------------------------


def _cc_labels(comps):
    return {r["id"]: r["comp"] for r in comps.collect()}


def test_cc_fusion_exact_and_fewer_materializations(spark):
    """A long chain forces many tail rounds; fusion must (a) keep labels
    exactly equal to the unfused run and (b) cut the number of
    materializations (round_seconds entries) roughly in half past round 1."""
    from scalemine_spark.algorithms import connected_components

    pairs = [(i, i + 1) for i in range(0, 800)] + [(2000 + i, 2000 + i + 2) for i in range(0, 60, 2)]
    e = edges_df(spark, pairs)
    # endgame_rows=0: fusion is the tail path under test here (the endgame
    # would otherwise absorb the tail on any graph this small)
    c_off, i_off = connected_components(e, fuse_rows=0, endgame_rows=0)
    c_on, i_on = connected_components(e, endgame_rows=0)
    assert _cc_labels(c_off) == _cc_labels(c_on)
    assert i_on["n_fused_pairs"] > 0
    assert len(i_on["round_seconds"]) < len(i_off["round_seconds"])


def test_cc_fusion_checkpoint_resume(spark, tmp_path):
    """Fused pairs commit at the pair's second round index; a resumed run
    must converge to identical labels and start from the committed state."""
    from scalemine_spark.algorithms import connected_components
    from scalemine_spark.checkpoint import CheckpointManager

    pairs = [(i, i + 1) for i in range(0, 300)]
    e = edges_df(spark, pairs)
    ck = CheckpointManager(str(tmp_path), "r5", "cc")
    comps, info = connected_components(e, checkpointer=ck, endgame_rows=0)
    ref = _cc_labels(comps)
    assert info["n_fused_pairs"] > 0

    ck2 = CheckpointManager(str(tmp_path), "r5", "cc")
    comps2, info2 = connected_components(e, checkpointer=ck2, endgame_rows=0)
    assert _cc_labels(comps2) == ref
    # resume fast-forwards: the second run replays fewer rounds than the first
    assert len(info2["round_seconds"]) <= len(info["round_seconds"])


def test_cc_fusion_restores_shuffle_conf(spark):
    from scalemine_spark.algorithms import connected_components

    before = spark.conf.get("spark.sql.shuffle.partitions")
    comps, info = connected_components(
        edges_df(spark, [(i, i + 1) for i in range(0, 400)])
    )
    comps.count()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


# ---------------------------------------------------------------------------
# g2 — driver-side union-find endgame
# ---------------------------------------------------------------------------


def test_cc_endgame_exact_vs_distributed(spark):
    """Endgame labels must equal the pure-distributed run exactly, on a
    graph mixing a long chain (deep tail), a clique, and isolated stars."""
    from scalemine_spark.algorithms import connected_components

    pairs = (
        [(i, i + 1) for i in range(0, 500)]
        + [(1000 + a, 1000 + b) for a in range(8) for b in range(a)]
        + [(2000, 2001), (3000, 3001), (3001, 3002)]
    )
    e = edges_df(spark, pairs)
    c_dist, i_dist = connected_components(e, endgame_rows=0)
    c_end, i_end = connected_components(e)  # default: endgame on
    assert _cc_labels(c_dist) == _cc_labels(c_end)
    assert i_end["endgame_seconds"] is not None
    assert i_dist["endgame_seconds"] is None
    # the endgame replaces the whole tail: one distributed round + the solve
    assert len(i_end["round_seconds"]) < len(i_dist["round_seconds"])
    assert i_end["converged"]


def test_cc_endgame_numpy_kernel_exact():
    """_endgame_star_forest's numpy kernel vs a pure-python union-find on a
    random pointer set with duplicates (the loop feeds it deduped sets, but
    the kernel must not care)."""
    import random

    random.seed(7)
    n = 400
    pairs = [(random.randrange(1, n), random.randrange(0, n)) for _ in range(900)]
    pairs = [(max(a, b), min(a, b)) for a, b in pairs if a != b]
    pairs += pairs[:100]  # duplicates

    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo

    exp = {}
    for v in {x for p in pairs for x in p}:
        r = find(v)
        if r != v:
            exp[v] = r

    from scalemine_spark.algorithms.components import _unionfind_numpy

    u = np.array([a for a, _ in pairs], dtype=np.int64)
    v = np.array([b for _, b in pairs], dtype=np.int64)
    ids, par = _unionfind_numpy(u, v)
    mask = par != np.arange(len(ids))
    got = dict(zip(ids[mask].tolist(), ids[par[mask]].tolist()))
    # pure-python union-find with min-root merging yields min-label roots
    assert got == exp


def test_cc_endgame_checkpoint_resume(spark, tmp_path):
    """The endgame commits its star forest; a resumed run must fast-forward
    (immediate endgame on the resume fingerprint) to identical labels."""
    from scalemine_spark.algorithms import connected_components
    from scalemine_spark.checkpoint import CheckpointManager

    pairs = [(i, i + 1) for i in range(0, 200)]
    e = edges_df(spark, pairs)
    ck = CheckpointManager(str(tmp_path), "r5e", "cc")
    comps, info = connected_components(e, checkpointer=ck)
    ref = _cc_labels(comps)
    assert info["endgame_seconds"] is not None

    ck2 = CheckpointManager(str(tmp_path), "r5e", "cc")
    comps2, info2 = connected_components(e, checkpointer=ck2)
    assert _cc_labels(comps2) == ref
    assert len(info2["round_seconds"]) <= len(info["round_seconds"])


# ---------------------------------------------------------------------------
# t8 — incremental connected components over streaming edge batches
# ---------------------------------------------------------------------------


def test_incremental_cc_equals_batch(spark, tmp_path):
    """Labels maintained across micro-batches must equal one-shot batch CC
    exactly — including singletons carried as self-loop label rows, and
    components MERGED by a later batch (edge (150, 900) below joins two
    components that earlier batches built independently)."""
    from scalemine_spark.algorithms import connected_components
    from scalemine_spark.streaming import streaming_incremental_components

    pairs = (
        [(i, i + 1) for i in range(0, 200)]          # chain A
        + [(900 + i, 900 + i + 1) for i in range(50)]  # chain B
        + [(150, 900)]                                # merges chain A with chain B
        + [(5000, 5000)]                              # self-loop -> singleton
    )
    e = edges_df(spark, pairs)
    epath = str(tmp_path / "edges")
    e.write.mode("overwrite").parquet(epath)

    got = streaming_incremental_components(spark, epath, str(tmp_path / "w"), n_splits=4)
    ref, _ = connected_components(e)
    assert _cc_labels(got) == _cc_labels(ref)
    assert 5000 in _cc_labels(got)  # singleton survived the label-carry


def test_cosine_neardup_recall_and_exactness(spark):
    """d13 — inject known near-dups (v and v + 0.05 per coordinate) among
    i.i.d. unit vectors: every reported pair must be a true dup pair (the
    exact-cosine filter makes false positives impossible at this margin)
    and LSH recall across 4 tables must clear 0.8 (expected ~0.92)."""
    from scalemine_spark.operators.dedup import cosine_neardup

    rng = np.random.default_rng(3)
    pts = rng.standard_normal((200, 64))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    base = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(pts)],
        "vec_id long, embedding array<double>",
    )
    dup = base.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform("embedding", lambda x: x + 0.05).alias("embedding"),
    )
    got = cosine_neardup(
        base.unionByName(dup), threshold=0.9, n_bits=6, n_tables=4, dim=64
    ).collect()
    pairs = {(r["a_id"], r["b_id"]) for r in got}
    true_pairs = {(i, i + 10_000) for i in range(100)}
    assert pairs <= true_pairs  # no false positives above the threshold
    assert len(pairs) >= 80  # LSH recall across 4 tables
    assert all(r["cos"] >= 0.9 for r in got)


def test_cosine_neardup_max_bucket_guard(spark):
    """A degenerate corpus (one hot direction) would explode quadratically
    inside a single bucket; max_bucket drops oversized buckets instead."""
    from scalemine_spark.operators.dedup import cosine_neardup

    rows = [(i, [1.0] * 8) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = cosine_neardup(df, threshold=0.5, n_bits=4, n_tables=2, dim=8, max_bucket=10)
    assert got.count() == 0  # the 50-row bucket was dropped, not joined


def test_kmeans_codebook_deterministic(spark):
    from scalemine_spark.operators.similarity import kmeans_codebook

    emb, _ = _clustered_emb(spark, n=200, dim=8)
    a = sorted((r["cid"], tuple(r["cv"])) for r in kmeans_codebook(emb, k=4, iters=2, dim=8).collect())
    b = sorted(
        (r["cid"], tuple(r["cv"]))
        for r in kmeans_codebook(emb.repartition(13), k=4, iters=2, dim=8).collect()
    )
    assert a == b and len(a) == 4


def test_kmeans_codebook_beats_firstk_recall(spark):
    """On clustered data a trained codebook must beat the first-K default at
    the SAME probe budget — the whole point of promoting training to a
    first-class operator (COVERAGE.md: 0.77 vs 0.385 at 6% scan). The
    fixture is CLUSTER-SORTED (vec_id order groups clusters), so the
    first-K codebook degenerates to K noisy copies of one center — the
    realistic failure mode of an untrained quantizer on sorted/sharded
    corpora — while training recovers all centers from the same ids."""
    import pandas as pd

    from scalemine_spark.operators.similarity import ann_ivf, cosine_topk, kmeans_codebook

    rng = np.random.default_rng(11)
    n, n_clusters, dim = 600, 12, 16
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    assign = np.arange(n) // (n // n_clusters)  # sorted by cluster
    pts = centers[assign] + 0.15 * rng.standard_normal((n, dim))
    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(n), "embedding": [r.astype("float32").tolist() for r in pts]}
        )
    )
    qs = emb.filter(F.col("vec_id") % 50 == 0)  # one query per cluster
    exact = {(r["qid"], r["vec_id"]) for r in cosine_topk(emb, qs, k=5).collect()}

    def recall(centroids):
        got = {
            (r["qid"], r["vec_id"])
            for r in ann_ivf(
                emb, qs, k=5, n_centroids=12, n_probe=2, centroids=centroids
            ).collect()
        }
        return len(exact & got) / len(exact)

    cb = kmeans_codebook(emb, k=12, iters=5, dim=16)
    r_trained = recall(cb)
    r_firstk = recall(None)
    assert r_trained > r_firstk, (r_trained, r_firstk)
    assert r_trained >= 0.8, r_trained


def test_kmeans_codebook_empty_cluster_carries_over(spark):
    """k > distinct directions: a centroid that attracts no vectors must
    keep its previous value (the oracle's COALESCE branch)."""
    import pandas as pd

    from scalemine_spark.operators.similarity import kmeans_codebook

    # 2 identical directions; k=3 -> at least one empty cluster after assign
    rows = [[1.0, 0.0, 0.0, 0.0]] * 4 + [[0.0, 1.0, 0.0, 0.0]] * 4
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(8), "embedding": rows})
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    cb = {r["cid"]: list(r["cv"]) for r in kmeans_codebook(emb, k=3, iters=2, dim=4).collect()}
    assert len(cb) == 3
    # cid 2 duplicates cid 0's direction; smaller-cid tie-break starves it
    assert cb[2] == [1.0, 0.0, 0.0, 0.0]


# ---------------------------------------------------------------------------
# j9c — asof auto-dispatch
# ---------------------------------------------------------------------------


def _asof_fixture(spark, s_hot):
    right = [(1, t, float(t)) for t in range(10)] + [(2, t, float(t)) for t in range(s_hot)]
    left = [(1, 5), (1, 100), (2, 3), (2, 10**6), (3, 7)]
    r = spark.createDataFrame(right, "k long, ts long, v double")
    l = spark.createDataFrame(left, "k long, ts long")
    return l, r


def test_asof_auto_picks_range_on_uniform_keys(spark):
    from scalemine_spark.operators.joins import asof, asof_join

    l, r = _asof_fixture(spark, s_hot=10)
    info = {}
    got = asof(l, r, on="k", left_ts="ts", right_ts="ts", info=info)
    assert info["strategy"] == "range" and info["max_right_per_key"] == 10
    ref = asof_join(l, r, on="k", left_ts="ts", right_ts="ts")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


def test_asof_auto_picks_merge_on_hot_key(spark):
    from scalemine_spark.operators.joins import asof, asof_join

    l, r = _asof_fixture(spark, s_hot=500)
    info = {}
    got = asof(l, r, on="k", left_ts="ts", right_ts="ts", info=info)
    assert info["strategy"] == "merge" and info["max_right_per_key"] == 500
    # dispatch must not change semantics
    ref = asof_join(l, r, on="k", left_ts="ts", right_ts="ts")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


def test_asof_spill_dir_materialization(spark, tmp_path):
    """spill_dir materializes the tagged left side through parquet (durable,
    off-executor-memory) — results must be identical to the default
    localCheckpoint path on both variants."""
    from scalemine_spark.operators.joins import asof_join, asof_join_merge

    l, r = _asof_fixture(spark, s_hot=20)
    ref = sorted(map(tuple, asof_join(l, r, on="k", left_ts="ts", right_ts="ts").collect()))
    a = asof_join(
        l, r, on="k", left_ts="ts", right_ts="ts", spill_dir=str(tmp_path / "s1")
    )
    b = asof_join_merge(
        l, r, on="k", left_ts="ts", right_ts="ts", spill_dir=str(tmp_path / "s2")
    )
    assert sorted(map(tuple, a.collect())) == ref
    assert sorted(map(tuple, b.collect())) == ref


def test_asof_forced_strategies_and_bad_strategy(spark):
    from scalemine_spark.operators.joins import asof

    l, r = _asof_fixture(spark, s_hot=10)
    i1, i2 = {}, {}
    a = asof(l, r, on="k", left_ts="ts", right_ts="ts", strategy="range", info=i1)
    b = asof(l, r, on="k", left_ts="ts", right_ts="ts", strategy="merge", info=i2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # forced strategies skip the max-per-key pass entirely
    assert i1["max_right_per_key"] is None and i2["max_right_per_key"] is None
    with pytest.raises(ValueError):
        asof(l, r, on="k", left_ts="ts", right_ts="ts", strategy="nope")


# ---------------------------------------------------------------------------
# t7 — streaming edge extraction
# ---------------------------------------------------------------------------


def test_streaming_extraction_equals_batch(spark, pages_small, tmp_path):
    """The foreachBatch upsert over 3 micro-batches must produce exactly the
    batch extraction's edge set (stream and batch share the kernel)."""
    from scalemine_spark.extract import extract_edge_urls
    from scalemine_spark.streaming import streaming_edge_extraction

    pages, _ = pages_small
    sub_path = str(tmp_path / "pages_sub")
    pages.limit(300).write.parquet(sub_path)
    batch = extract_edge_urls(spark.read.parquet(sub_path))
    streamed = streaming_edge_extraction(
        spark, sub_path, str(tmp_path / "work"), n_splits=3
    )
    sym = (
        streamed.exceptAll(batch).unionAll(batch.exceptAll(streamed)).count()
    )
    assert sym == 0
    assert streamed.count() == batch.count() > 0


# ---------------------------------------------------------------------------
# g1 — hub_reason reporting
# ---------------------------------------------------------------------------


def test_pagerank_hub_reason_below_floor(spark):
    from scalemine_spark.algorithms import pagerank

    ranks, info = pagerank(edges_df(spark, [(1, 2), (2, 3), (3, 1)]), fixed_iters=2)
    ranks.count()
    assert info["hub_threshold"] is None
    assert info["hub_reason"] == "below_hub_floor"


def test_pagerank_pinned_hub_over_budget_warns(spark):
    """A pinned threshold matching > 131072 vertices must warn and record
    hub_reason='broadcast_budget_cap' instead of silently flipping
    hub_threshold to None (round-4 advisory)."""
    from scalemine_spark.algorithms import pagerank

    # star bursts: every src has out_deg >= 1 and threshold 1 matches all
    n = 140_000
    e = spark.range(n).select(
        F.col("id").alias("src"), (F.col("id") + n).alias("dst")
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        ranks, info = pagerank(e, fixed_iters=1, hub_threshold=1)
        ranks.count()
    assert info["hub_threshold"] is None
    assert info["hub_reason"] == "broadcast_budget_cap"
    assert any("broadcast" in str(x.message) for x in w)


# ---------------------------------------------------------------------------
# d14 / d15 — corpus n-gram stats + deterministic stratified sampling
# ---------------------------------------------------------------------------


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_topk_ngrams_counts_and_tiebreak(spark):
    """Bigram counts are exact; the K-boundary orders by (n DESC, ngram ASC);
    0/1-token docs contribute nothing (the slice guard, not an error)."""
    from scalemine_spark.queries import QUERIES

    rows = [
        (1, "the cat sat", "en"),
        (2, "the cat ran", "en"),
        (3, "one", "en"),       # 1 token -> no bigrams
        (4, "", "en"),          # 0 tokens -> no bigrams
        (5, "THE CAT sat", "en"),  # case-folds into row 1's bigrams
    ]
    import tempfile, os
    d = tempfile.mkdtemp(prefix="d14_")
    _docs_df(spark, rows).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = QUERIES["d14_topk_ngrams"](spark, d).collect()
    got = [(r["ngram"], r["n"]) for r in out]
    assert got[0] == ("the cat", 3)
    # cat ran (1) vs cat sat (2): count breaks first; equal-count ties
    # order lexicographically
    assert got[1] == ("cat sat", 2)
    assert set(got) == {("the cat", 3), ("cat sat", 2), ("cat ran", 1)}


def test_stratified_sample_deterministic_and_rated(spark):
    """Same rows on every run (hash-keyed, not rand()); en is sampled at
    ~10% and the rest at ~30% of their stratum sizes."""
    from scalemine_spark.queries import QUERIES

    from tests.conftest import SF_DIR as sf_dir

    a = {r["doc_id"] for r in QUERIES["d15_stratified_sample"](spark, sf_dir).collect()}
    b = {r["doc_id"] for r in QUERIES["d15_stratified_sample"](spark, sf_dir).collect()}
    assert a == b and a
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tot = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = {
        r["lang"]: r["n"]
        for r in QUERIES["d15_stratified_sample"](spark, sf_dir)
        .groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert 0.02 < kept["en"] / tot["en"] < 0.20
    for lang, n in kept.items():
        if lang != "en":
            assert 0.15 < n / tot[lang] < 0.45


# ---------------------------------------------------------------------------
# g6 HITS + x6 host-graph rollup
# ---------------------------------------------------------------------------


def _hits_numpy(pairs, iters):
    """Pure-numpy HITS reference: raw-sum half-steps, L1 normalization,
    matching the engine's formulation exactly."""
    import numpy as np

    ids = sorted({x for p in pairs for x in p})
    ix = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    A = np.zeros((n, n))
    for s, d in pairs:
        A[ix[s], ix[d]] = 1.0
    hub = np.ones(n)
    a_raw = h_raw = None
    for _ in range(iters):
        a_raw = A.T @ hub
        h_raw = A @ a_raw
        hub = h_raw / h_raw.sum()
    return ids, a_raw / a_raw.sum(), h_raw / h_raw.sum()


HITS_PAIRS = [
    (1, 2), (1, 3), (2, 3), (3, 4), (4, 1), (5, 3), (5, 4), (6, 6),
    (7, 3), (2, 7), (8, 1), (1, 8),
]


def test_hits_matches_numpy(spark):
    import numpy as np
    from scalemine_spark.algorithms import hits

    from tests.conftest import edges_df

    scores, info = hits(edges_df(spark, HITS_PAIRS), iters=5)
    got = {r["id"]: (r["auth"], r["hub"]) for r in scores.collect()}
    ids, auth, hub = _hits_numpy(HITS_PAIRS, iters=5)
    assert set(got) == set(ids)
    for v, a, h in zip(ids, auth, hub):
        assert np.isclose(got[v][0], a, atol=1e-12), (v, got[v][0], a)
        assert np.isclose(got[v][1], h, atol=1e-12), (v, got[v][1], h)
    assert info["iters_run"] == 5


def test_hits_resume_bitwise(spark, tmp_path):
    """Delete the last two committed iterations; the resumed run replays
    exactly 2 iterations and lands on bitwise-identical scores.

    exact_sums=True is what makes 'bitwise' a guarantee: double sums merge
    shuffled partials in fetch-timing order (measured ~1-in-7 replay loops
    landing 1 ulp off on this graph's in-degree-4 key), decimal
    accumulation is associative. The default double-sum path is covered by
    test_hits_resume_default_tolerance below."""
    import glob
    import os

    from scalemine_spark.algorithms import hits
    from scalemine_spark.checkpoint import CheckpointManager

    from tests.conftest import edges_df

    e = edges_df(spark, HITS_PAIRS)
    ck = CheckpointManager(str(tmp_path), "r", "hits")
    s1, _ = hits(e, iters=5, checkpointer=ck, exact_sums=True)
    ref = sorted((r["id"], r["auth"], r["hub"]) for r in s1.collect())
    for m in sorted(glob.glob(os.path.join(str(tmp_path), "r", "hits", "_manifests", "*.json"))):
        if "000003" in m or "000004" in m:
            os.remove(m)
    ck2 = CheckpointManager(str(tmp_path), "r", "hits")
    s2, info = hits(e, iters=5, checkpointer=ck2, exact_sums=True)
    assert info["iters_run"] == 2
    assert sorted((r["id"], r["auth"], r["hub"]) for r in s2.collect()) == ref


def test_hits_resume_default_tolerance(spark, tmp_path):
    """Same crash/resume scenario on the default double-sum path: the
    replay contract there is allclose 1e-12 (ulp-level shuffle-merge
    jitter), not bit-identity."""
    import glob
    import os

    from scalemine_spark.algorithms import hits
    from scalemine_spark.checkpoint import CheckpointManager

    from tests.conftest import edges_df

    e = edges_df(spark, HITS_PAIRS)
    ck = CheckpointManager(str(tmp_path), "r", "hits")
    s1, _ = hits(e, iters=5, checkpointer=ck)
    ref = {r["id"]: (r["auth"], r["hub"]) for r in s1.collect()}
    for m in sorted(glob.glob(os.path.join(str(tmp_path), "r", "hits", "_manifests", "*.json"))):
        if "000003" in m or "000004" in m:
            os.remove(m)
    ck2 = CheckpointManager(str(tmp_path), "r", "hits")
    s2, info = hits(e, iters=5, checkpointer=ck2)
    assert info["iters_run"] == 2
    got = {r["id"]: (r["auth"], r["hub"]) for r in s2.collect()}
    assert got.keys() == ref.keys()
    for k in ref:
        for i in (0, 1):
            assert abs(got[k][i] - ref[k][i]) <= 1e-12 * max(1.0, abs(ref[k][i]))


def test_host_graph_rollup(spark):
    from scalemine_spark.graph import host_graph

    rows = [
        ("https://a.com/x", "https://b.com/y"),
        ("https://a.com/z", "https://b.com/w"),   # same host pair -> weight 2
        ("https://a.com/p", "https://a.com/q"),   # intra-host -> dropped
        ("https://c.com/1", "https://a.com/2"),
        ("not a url", "https://b.com/y"),         # no host -> dropped
    ]
    df = spark.createDataFrame(rows, "src_url string, dst_url string")
    got = {(r["src_host"], r["dst_host"]): r["weight"] for r in host_graph(df).collect()}
    assert got == {("a.com", "b.com"): 2, ("c.com", "a.com"): 1}
    kept = host_graph(df, keep_intra_host=True).collect()
    assert {(r["src_host"], r["dst_host"]): r["weight"] for r in kept}[("a.com", "a.com")] == 1


# ---------------------------------------------------------------------------
# G7 BFS hop distance / G8 personalized PageRank (round 5b)
# ---------------------------------------------------------------------------

BFS_PAIRS = [(1, 2), (2, 3), (3, 4), (1, 5), (6, 7), (7, 6), (8, 1)]


def test_bfs_hops_matches_reference(spark):
    from scalemine_spark.algorithms import bfs_hops

    from tests.conftest import edges_df

    dist, info = bfs_hops(edges_df(spark, BFS_PAIRS), [1])
    got = {r["id"]: r["dist"] for r in dist.collect()}
    # 1 -> {2,5} -> 3 -> 4; 6,7 unreachable; 8 is a source of 1, not reached
    assert got == {1: 0, 2: 1, 5: 1, 3: 2, 4: 3}
    assert info["frontier_sizes"][-1] == 0  # converged, not hop-capped


def test_bfs_multi_source_and_cap(spark):
    from scalemine_spark.algorithms import bfs_hops

    from tests.conftest import edges_df

    e = edges_df(spark, BFS_PAIRS)
    # two sources: 6's component now reachable; min over sources wins
    dist, _ = bfs_hops(e, [1, 6])
    got = {r["id"]: r["dist"] for r in dist.collect()}
    assert got[6] == 0 and got[7] == 1 and got[2] == 1
    # hop cap truncates the frontier expansion
    dist2, info2 = bfs_hops(e, [1], max_hops=2)
    got2 = {r["id"]: r["dist"] for r in dist2.collect()}
    assert 4 not in got2 and got2[3] == 2
    assert info2["hops"] == 2


def test_bfs_resume(spark, tmp_path):
    """Delete the last two committed hops; the resumed run replays exactly
    them and lands on an identical dist table (set ops — exactly
    deterministic, no exact_sums needed)."""
    import glob
    import os

    from scalemine_spark.algorithms import bfs_hops
    from scalemine_spark.checkpoint import CheckpointManager

    from tests.conftest import edges_df

    e = edges_df(spark, BFS_PAIRS)
    ck = CheckpointManager(str(tmp_path), "r", "bfs")
    d1, info1 = bfs_hops(e, [1], checkpointer=ck)
    ref = sorted((r["id"], r["dist"]) for r in d1.collect())
    last = ck.latest()
    for m in glob.glob(os.path.join(str(tmp_path), "r", "bfs", "_manifests", "*.json")):
        it = int(os.path.basename(m).split(".")[0])
        if it >= last - 1:
            os.remove(m)
    ck2 = CheckpointManager(str(tmp_path), "r", "bfs")
    d2, info2 = bfs_hops(e, [1], checkpointer=ck2)
    assert sorted((r["id"], r["dist"]) for r in d2.collect()) == ref


def test_ppr_matches_numpy(spark):
    import numpy as np

    from scalemine_spark.algorithms import personalized_pagerank

    from tests.conftest import edges_df

    pairs = BFS_PAIRS
    ranks, info = personalized_pagerank(edges_df(spark, pairs), [1], fixed_iters=20)
    got = {r["id"]: r["rank"] for r in ranks.collect()}

    ids = sorted({u for p_ in pairs for u in p_})
    idx = {v: i for i, v in enumerate(ids)}
    d = 0.85
    out = {v: 0 for v in ids}
    for s, t_ in pairs:
        out[s] += 1
    tele = np.zeros(len(ids))
    tele[idx[1]] = 1.0
    r = tele.copy()
    for _ in range(20):
        dm = sum(r[idx[v]] for v in ids if out[v] == 0)
        nr = np.zeros(len(ids))
        for s, t_ in pairs:
            nr[idx[t_]] += d * r[idx[s]] / out[s]
        nr += ((1 - d) + d * dm) * tele
        r = nr
    assert all(abs(got[v] - r[idx[v]]) < 1e-9 for v in ids)
    # mass never leaks to the unreachable component
    assert got[6] == 0.0 and got[7] == 0.0 and got[8] == 0.0
    assert info["n_seeds"] == 1


def test_ppr_resume_bitwise(spark, tmp_path):
    """exact_sums=True crash/resume: bit-identical, same contract as G1."""
    import glob
    import os

    from scalemine_spark.algorithms import personalized_pagerank
    from scalemine_spark.checkpoint import CheckpointManager

    from tests.conftest import edges_df

    e = edges_df(spark, BFS_PAIRS)
    ck = CheckpointManager(str(tmp_path), "r", "ppr")
    r1, _ = personalized_pagerank(
        e, [1, 6], fixed_iters=6, checkpointer=ck, exact_sums=True
    )
    ref = sorted((r["id"], r["rank"]) for r in r1.collect())
    for m in glob.glob(os.path.join(str(tmp_path), "r", "ppr", "_manifests", "*.json")):
        if "000004" in m or "000005" in m:
            os.remove(m)
    ck2 = CheckpointManager(str(tmp_path), "r", "ppr")
    r2, info = personalized_pagerank(
        e, [1, 6], fixed_iters=6, checkpointer=ck2, exact_sums=True
    )
    assert info["iters_run"] == 2
    assert sorted((r["id"], r["rank"]) for r in r2.collect()) == ref


def test_ppr_seed_validation(spark):
    import pytest as _pytest

    from scalemine_spark.algorithms import personalized_pagerank

    from tests.conftest import edges_df

    e = edges_df(spark, BFS_PAIRS)
    with _pytest.raises(ValueError):
        personalized_pagerank(e, [], fixed_iters=2)
    with _pytest.raises(ValueError):
        personalized_pagerank(e, [999], fixed_iters=2)  # seed not in graph


# ---------------------------------------------------------------------------
# G9 k-core decomposition (round 5b)
# ---------------------------------------------------------------------------


def test_kcore_semantics(spark):
    from scalemine_spark.algorithms import kcore

    from tests.conftest import edges_df

    clique = [(a, b) for a in range(5) for b in range(a)]       # K5 = 4-core
    chain = [(10, 11), (11, 12), (12, 13)]                       # 1-core
    tri = [(20, 21), (21, 22), (20, 22), (0, 20)]                # triangle = 2-core
    e = edges_df(spark, clique + chain + tri)

    core3, i3 = kcore(e, 3)
    got3 = {r["id"]: r["core_deg"] for r in core3.collect()}
    assert got3 == {v: 4 for v in range(5)}        # K5 only; 20 peels out
    assert i3["converged"]

    core2, _ = kcore(e, 2)
    assert {r["id"] for r in core2.collect()} == {0, 1, 2, 3, 4, 20, 21, 22}

    core9, i9 = kcore(e, 9)
    assert core9.count() == 0 and i9["converged"]


def test_kcore_fixed_peel_contract(spark):
    """max_peels caps the peeling; the capped result is the well-defined
    N-peel state (what the driver oracle unrolls), converged or not."""
    from scalemine_spark.algorithms import kcore

    from tests.conftest import edges_df

    # chain of length 12: 2-core is empty but peeling eats 2 endpoints/round
    e = edges_df(spark, [(i, i + 1) for i in range(12)])
    capped, info = kcore(e, 2, max_peels=2)
    assert not info["converged"]
    assert capped.count() > 0            # not yet empty after 2 peels
    full, info_full = kcore(e, 2)
    assert info_full["converged"] and full.count() == 0


def test_kcore_resume(spark, tmp_path):
    import glob
    import os

    from scalemine_spark.algorithms import kcore
    from scalemine_spark.checkpoint import CheckpointManager

    from tests.conftest import edges_df

    e = edges_df(spark, [(i, i + 1) for i in range(12)] + [(a, b) for a in range(30, 34) for b in range(30, a)])
    ck = CheckpointManager(str(tmp_path), "r", "kcore")
    c1, i1 = kcore(e, 2, checkpointer=ck)
    ref = sorted((r["id"], r["core_deg"]) for r in c1.collect())
    last = ck.latest()
    for m in glob.glob(os.path.join(str(tmp_path), "r", "kcore", "_manifests", "*.json")):
        if int(os.path.basename(m).split(".")[0]) >= last - 1:
            os.remove(m)
    ck2 = CheckpointManager(str(tmp_path), "r", "kcore")
    c2, i2 = kcore(e, 2, checkpointer=ck2)
    assert sorted((r["id"], r["core_deg"]) for r in c2.collect()) == ref
    assert i2["peels_run"] <= i1["peels_run"]


# ---------------------------------------------------------------------------
# G10 — weighted SSSP (frontier Bellman-Ford)
# ---------------------------------------------------------------------------

# cheapest path 1->3 is the 3-hop 1->4->5->3 (w=3), not the 2-hop
# 1->2->3 (w=20): exercises "more hops can be cheaper" and the round-cap
# partial-result contract. 6 unreachable from 1.
SSSP_TRIPLES = [
    (1, 2, 10), (2, 3, 10),
    (1, 4, 1), (4, 5, 1), (5, 3, 1),
    (6, 1, 2),
]


def _wedges_df(spark, triples):
    return spark.createDataFrame(
        [(int(a), int(b), int(w)) for a, b, w in triples],
        "src long, dst long, weight long",
    )


def test_sssp_matches_reference(spark):
    from scalemine_spark.algorithms import sssp

    dist, info = sssp(_wedges_df(spark, SSSP_TRIPLES), [1])
    got = {r["id"]: r["dist"] for r in dist.collect()}
    assert got == {1: 0, 2: 10, 4: 1, 5: 2, 3: 3}
    assert info["converged"] and info["improved_sizes"][-1] == 0


def test_sssp_round_cap_partial_result(spark):
    """After R rounds dist = min weight over paths of AT MOST R edges —
    the documented Bellman-Ford partial result."""
    from scalemine_spark.algorithms import sssp

    e = _wedges_df(spark, SSSP_TRIPLES)
    d2, info2 = sssp(e, [1], max_rounds=2)
    got2 = {r["id"]: r["dist"] for r in d2.collect()}
    # 2-edge bound: 3 is reached via 1->2->3 (20); the cheaper 3-hop path
    # is not yet visible
    assert got2[3] == 20 and got2[5] == 2
    assert not info2["converged"]
    # multi-source: min over sources; 6 as a source makes it reachable
    dm, _ = sssp(e, [1, 6])
    gotm = {r["id"]: r["dist"] for r in dm.collect()}
    assert gotm[6] == 0 and gotm[1] == 0 and gotm[3] == 3


def test_sssp_resume(spark, tmp_path):
    """Delete the last two committed rounds; the resumed run replays
    exactly them (frontier restored from the committed `improved` column)
    and lands on an identical dist table — integer MIN, bitwise."""
    import glob
    import os

    from scalemine_spark.algorithms import sssp
    from scalemine_spark.checkpoint import CheckpointManager

    e = _wedges_df(spark, SSSP_TRIPLES)
    ck = CheckpointManager(str(tmp_path), "r", "sssp")
    d1, info1 = sssp(e, [1], checkpointer=ck)
    ref = sorted((r["id"], r["dist"]) for r in d1.collect())
    last = ck.latest()
    assert last >= 2
    for m in glob.glob(
        os.path.join(str(tmp_path), "r", "sssp", "_manifests", "*.json")
    ):
        it = int(os.path.basename(m).split(".")[0])
        if it >= last - 1:
            os.remove(m)
    ck2 = CheckpointManager(str(tmp_path), "r", "sssp")
    d2, info2 = sssp(e, [1], checkpointer=ck2)
    assert sorted((r["id"], r["dist"]) for r in d2.collect()) == ref
    assert info2["rounds_run"] < info1["rounds_run"]


# ---------------------------------------------------------------------------
# G11 — local clustering coefficient
# ---------------------------------------------------------------------------


def test_clustering_coefficient_small(spark):
    from scalemine_spark.algorithms import clustering_coefficient

    from tests.conftest import edges_df

    # triangle 1-2-3 plus pendant 3-4 (directed inputs canonicalize)
    e = edges_df(spark, [(1, 2), (2, 3), (3, 1), (3, 4), (2, 1)])
    got = {
        r["id"]: (r["deg"], r["triangles"], r["cc"])
        for r in clustering_coefficient(e).collect()
    }
    assert got[1] == (2, 1, 1.0) and got[2] == (2, 1, 1.0)
    assert got[3] == (3, 1, round(1 / 3, 9))
    assert got[4] == (1, 0, 0.0)


# ---------------------------------------------------------------------------
# G12 — deterministic random walks
# ---------------------------------------------------------------------------


def _rw_python(pairs, seeds, length, walks):
    """Pure-python replay of the normative chooser."""
    from collections import defaultdict

    adj = defaultdict(list)
    for a, b in sorted(set(pairs)):
        adj[a].append(b)
    rows = []
    P = 1000003
    for s in seeds:
        for w in range(walks):
            cur = s
            rows.append((s, w, 0, cur))
            for t in range(length):
                nbrs = adj.get(cur)
                if not nbrs:
                    break
                r = ((cur % P) * 31 + (s % P) * 17 + w * 7 + t * 13) % len(nbrs)
                cur = nbrs[r]
                rows.append((s, w, t + 1, cur))
    return sorted(rows)


def test_random_walks_match_python_replay(spark):
    from scalemine_spark.algorithms import random_walks

    from tests.conftest import edges_df

    pairs = [(1, 2), (1, 3), (1, 4), (2, 3), (3, 1), (3, 5), (4, 1), (5, 5)]
    e = edges_df(spark, pairs)
    corpus, info = random_walks(e, [1, 2], length=5, walks_per_seed=3)
    got = sorted(
        (r["seed"], r["walk"], r["step"], r["vertex"]) for r in corpus.collect()
    )
    assert got == _rw_python(pairs, [1, 2], 5, 3)
    assert info["steps_run"] <= 5


def test_random_walks_dead_end_and_determinism(spark):
    from scalemine_spark.algorithms import random_walks

    from tests.conftest import edges_df

    # 1 -> 2 -> 3, 3 has no out-edges: walk dies after step 2
    e = edges_df(spark, [(1, 2), (2, 3)])
    c1, i1 = random_walks(e, [1], length=10, walks_per_seed=1)
    rows1 = sorted(tuple(r) for r in c1.collect())
    assert rows1 == [(1, 0, 0, 1), (1, 0, 1, 2), (1, 0, 2, 3)]
    assert i1["frontier_sizes"][-1] == 0  # stopped early, not length-capped
    c2, _ = random_walks(e, [1], length=10, walks_per_seed=1)
    assert sorted(tuple(r) for r in c2.collect()) == rows1


# ---------------------------------------------------------------------------
# G1 weighted variant — weight_col on pagerank()
# ---------------------------------------------------------------------------


def _weighted_pr_numpy(triples, d=0.85, iters=30):
    import numpy as np

    ids = sorted({v for a, b, _ in triples for v in (a, b)})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    outw = np.zeros(n)
    for a, b, w in triples:
        outw[idx[a]] += w
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        for a, b, w in triples:
            if outw[idx[a]] > 0:
                contrib[idx[b]] += r[idx[a]] * w / outw[idx[a]]
        dangling = r[outw == 0].sum()
        r = (1 - d) / n + d * (contrib + dangling / n)
    return {v: r[idx[v]] for v in ids}


def test_weighted_pagerank_matches_numpy(spark):
    import numpy as np

    from scalemine_spark.algorithms import pagerank

    triples = [
        (1, 2, 3.0), (1, 3, 1.0), (2, 3, 2.0), (3, 1, 1.0),
        (4, 1, 5.0), (2, 4, 0.0),  # zero-weight edge contributes nothing
        (5, 5, 0.0),               # all-zero out-weight -> dangling
    ]
    e = spark.createDataFrame(triples, "src long, dst long, weight double")
    ranks, info = pagerank(e, fixed_iters=30, weight_col="weight")
    got = {r["id"]: r["rank"] for r in ranks.collect()}
    ref = _weighted_pr_numpy(triples, iters=30)
    assert set(got) == set(ref)
    for v in ref:
        assert abs(got[v] - ref[v]) < 1e-12, (v, got[v], ref[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_weighted_pagerank_unit_weights_equal_unweighted(spark):
    from pyspark.sql import functions as F

    from scalemine_spark.algorithms import pagerank

    from tests.conftest import edges_df

    pairs = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (2, 4)]
    e = edges_df(spark, pairs)
    base, _ = pagerank(e, fixed_iters=8)
    ew = e.withColumn("weight", F.lit(1.0))
    wtd, _ = pagerank(ew, fixed_iters=8, weight_col="weight")
    b = {r["id"]: r["rank"] for r in base.collect()}
    w = {r["id"]: r["rank"] for r in wtd.collect()}
    assert set(b) == set(w)
    for v in b:
        assert abs(b[v] - w[v]) < 1e-15, (v, b[v], w[v])


# ---------------------------------------------------------------------------
# G13 — Adamic-Adar link prediction
# ---------------------------------------------------------------------------


def test_adamic_adar_small(spark):
    import math

    from scalemine_spark.algorithms import adamic_adar

    from tests.conftest import edges_df

    # square 1-2-3-4-1: candidates (1,3) and (2,4), each via two deg-2
    # centers -> score 2/ln(2); existing edges excluded
    e = edges_df(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    rows = adamic_adar(e, k=10).collect()
    got = {(r["u"], r["v"]): r["score"] for r in rows}
    exp = round(2 / math.log(2), 9)
    assert got == {(1, 3): exp, (2, 4): exp}


def test_adamic_adar_exact_weights_and_cap(spark):
    import math

    from scalemine_spark.algorithms import adamic_adar

    from tests.conftest import edges_df

    # star center 0 with leaves 1..5 (deg 5) plus edge 1-2: candidate pairs
    # among leaves score via center 0 only
    pairs = [(0, i) for i in range(1, 6)] + [(1, 2)]
    e = edges_df(spark, pairs)
    rows = adamic_adar(e, k=100, exact_weights=True).collect()
    got = {(r["u"], r["v"]): r["score_n"] for r in rows}
    w5 = math.floor(1e9 / math.log(5))
    # (1,2) is an existing edge -> excluded; other leaf pairs present
    assert (1, 2) not in got
    assert got[(1, 3)] == w5 and got[(4, 5)] == w5
    # (1,2)'s center-0 contribution plus... excluded anyway; now cap out
    # the hub: no centers of deg >= 2 remain except 1 and 2 (deg 2 each,
    # sharing neighbor 0) -> only candidate is their wedge pair... which
    # is (0-1-2 / 0-2-1) centered at 1 and 2 giving pair (0, 2)? No:
    # centers 1,2 have neighbors {0,2},{0,1} -> pairs (0,2) and (0,1),
    # both existing edges -> empty result.
    rows2 = adamic_adar(e, k=100, max_center_degree=4, exact_weights=True).collect()
    assert rows2 == []


# ---------------------------------------------------------------------------
# D16 — TF-IDF top-k terms per document
# ---------------------------------------------------------------------------


def test_tfidf_topk_small(spark):
    import math

    from scalemine_spark.operators.text import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry cherry date"),
        ],
        "doc_id long, text string",
    )
    rows = tfidf_topk(docs, k=2).collect()
    got = {(r["doc_id"], r["rk"]): (r["term"], r["score_n"]) for r in rows}

    def w(tf, df, n=3):
        return tf * math.floor(1e9 * math.log(n / df))

    # doc 1: apple tf=2 df=1 beats banana tf=1 df=2
    assert got[(1, 1)] == ("apple", w(2, 1))
    assert got[(1, 2)] == ("banana", w(1, 2))
    # doc 2: banana and cherry tie (tf=1, df=2) -> term asc breaks it
    assert got[(2, 1)] == ("banana", w(1, 2))
    assert got[(2, 2)] == ("cherry", w(1, 2))
    # doc 3: cherry tf=2 df=2 vs date tf=1 df=1: 2*ln(1.5) > 1*ln(3)? no —
    # compare the actual nano-weights like the engine does
    exp3 = sorted(
        [("cherry", w(2, 2)), ("date", w(1, 1))],
        key=lambda t: (-t[1], t[0]),
    )
    assert got[(3, 1)] == exp3[0] and got[(3, 2)] == exp3[1]


# ---------------------------------------------------------------------------
# G14 — strongly connected components
# ---------------------------------------------------------------------------


def _scc_python(pairs):
    """Iterative Tarjan; returns {id: max-id-of-its-SCC}."""
    from collections import defaultdict

    adj = defaultdict(list)
    verts = set()
    for a, b in pairs:
        verts.update((a, b))
        if a != b:
            adj[a].append(b)
    index = {}
    low = {}
    on = set()
    stack = []
    comp = {}
    counter = [0]

    def strong(v0):
        work = [(v0, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on.add(v)
            recurse = False
            nbrs = adj.get(v, [])
            for i in range(pi, len(nbrs)):
                w = nbrs[i]
                if w not in index:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on:
                    low[v] = min(low[v], index[w])
            if not recurse:
                if low[v] == index[v]:
                    grp = []
                    while True:
                        w = stack.pop()
                        on.discard(w)
                        grp.append(w)
                        if w == v:
                            break
                    m = max(grp)
                    for w in grp:
                        comp[w] = m
                if work:
                    pv = work[-1][0]
                    low[pv] = min(low[pv], low[v])

    for v in sorted(verts):
        if v not in index:
            strong(v)
    return comp


def test_scc_matches_tarjan(spark):
    from scalemine_spark.algorithms import scc

    from tests.conftest import edges_df

    # two cycles bridged by a DAG edge, plus a tail and a self-loop
    pairs = [
        (1, 2), (2, 3), (3, 1),       # SCC {1,2,3}
        (3, 4),                        # bridge
        (4, 5), (5, 6), (6, 4),       # SCC {4,5,6}
        (6, 7),                        # tail -> singleton 7
        (8, 8),                        # self-loop -> singleton 8
    ]
    labels, info = scc(edges_df(spark, pairs))
    got = {r["id"]: r["scc"] for r in labels.collect()}
    assert got == _scc_python(pairs)
    assert info["converged"]


def test_scc_random_graphs_match_tarjan(spark):
    from scalemine_spark.algorithms import scc

    from tests.conftest import edges_df

    import numpy as np

    for seed in (0, 1, 2):
        rng = np.random.RandomState(seed)
        pairs = [
            (int(a), int(b))
            for a, b in zip(rng.randint(0, 25, 120), rng.randint(0, 25, 120))
        ]
        labels, info = scc(edges_df(spark, pairs))
        got = {r["id"]: r["scc"] for r in labels.collect()}
        assert got == _scc_python(pairs), seed
        assert info["converged"], seed


def test_scc_resume(spark, tmp_path):
    import glob
    import os

    from scalemine_spark.algorithms import scc
    from scalemine_spark.checkpoint import CheckpointManager

    from tests.conftest import edges_df

    # graph engineered for >= 2 outer rounds: color class of the max id
    # swallows vertices not in its SCC (9 reaches the 1-2-3 cycle)
    pairs = [(1, 2), (2, 3), (3, 1), (9, 1), (4, 9), (9, 4)]
    e = edges_df(spark, pairs)
    ck = CheckpointManager(str(tmp_path), "r", "scc")
    l1, i1 = scc(e, checkpointer=ck)
    ref = sorted((r["id"], r["scc"]) for r in l1.collect())
    assert i1["outer_rounds"] >= 2
    last = ck.latest()
    for m in glob.glob(os.path.join(str(tmp_path), "r", "scc", "_manifests", "*.json")):
        if int(os.path.basename(m).split(".")[0]) >= last:
            os.remove(m)
    ck2 = CheckpointManager(str(tmp_path), "r", "scc")
    l2, i2 = scc(e, checkpointer=ck2)
    assert sorted((r["id"], r["scc"]) for r in l2.collect()) == ref
    assert i2["outer_rounds"] < i1["outer_rounds"]


# ---------------------------------------------------------------------------
# g15 — frequent subgraph mining: engine (label-degree profiles, no level-2
# embedding materialization) vs a pure-python NAIVE embedding enumerator
# computing orbit-aware MNI, on seeded random and handcrafted corner graphs.
# ---------------------------------------------------------------------------


def _labels_df(spark, labels):
    return spark.createDataFrame(
        [(int(i), int(l)) for i, l in labels.items()], "id long, lab int"
    )


def _fsm_brute(pairs, labels, tau):
    """Naive enumeration of every node-injective embedding; MNI per orbit."""
    from collections import defaultdict

    out_adj, in_adj = defaultdict(set), defaultdict(set)
    for u, v in pairs:
        out_adj[u].add(v)
        in_adj[v].add(u)
    imgs = defaultdict(lambda: defaultdict(set))

    def add(key, **roles):
        for r, x in roles.items():
            imgs[key][r].add(x)

    for u, v in pairs:
        add(("edge", labels[u], labels[v], None), a=u, b=v)
        for w in out_adj[v]:
            if w != u:
                add(("path", labels[u], labels[v], labels[w]), a=u, b=v, c=w)
    for v, nbrs in out_adj.items():
        for u in nbrs:
            for w in nbrs:
                if u == w or labels[u] > labels[w]:
                    continue
                if labels[u] < labels[w]:
                    add(("out_star", labels[v], labels[u], labels[w]), a=v, b=u, c=w)
                else:  # equal leaf labels: ONE orbit, image = union of roles
                    add(("out_star", labels[v], labels[u], labels[w]), a=v, b=u)
    for v, nbrs in in_adj.items():
        for u in nbrs:
            for w in nbrs:
                if u == w or labels[u] > labels[w]:
                    continue
                if labels[u] < labels[w]:
                    add(("in_star", labels[v], labels[u], labels[w]), a=v, b=u, c=w)
                else:
                    add(("in_star", labels[v], labels[u], labels[w]), a=v, b=u)
    return sorted(
        (k[0], k[1], k[2], k[3], min(len(s) for s in roles.values()))
        for k, roles in imgs.items()
        if min(len(s) for s in roles.values()) >= tau
    )


def _fsm_engine(spark, pairs, labels, tau):
    from scalemine_spark.algorithms import frequent_subgraphs

    res = frequent_subgraphs(edges_df(spark, pairs), _labels_df(spark, labels), tau)
    return sorted(
        (r["shape"], r["l1"], r["l2"], r["l3"], r["support"]) for r in res.collect()
    )


def test_fsm_matches_naive_enumeration_random(spark):
    import random

    rng = random.Random(7)
    n = 34
    labels = {i: rng.choice([0, 0, 0, 1, 1, 2, 3]) for i in range(n)}
    pairs = set()
    while len(pairs) < 150:
        u, v = rng.randrange(n), rng.randrange(n)
        if u != v:
            pairs.add((u, v))
    pairs = sorted(pairs)
    for tau in (2, 3, 5):
        assert _fsm_engine(spark, pairs, labels, tau) == _fsm_brute(pairs, labels, tau)


def test_fsm_path_injectivity_corner(spark):
    """x==z with a single in- and single out-neighbor that COINCIDE is not an
    embedding (u->v->u has u==w); a genuine 3-vertex path of one label is."""
    pairs = [(1, 2), (2, 1), (3, 4), (4, 5)]
    labels = {i: 0 for i in range(1, 6)}
    got = _fsm_engine(spark, pairs, labels, 1)
    assert got == _fsm_brute(pairs, labels, 1)
    paths = [r for r in got if r[0] == "path"]
    # only 3->4->5 embeds: center image {4}, never {1, 2}
    assert paths == [("path", 0, 0, 0, 1)]


def test_fsm_equal_leaf_orbit_union(spark):
    """Equal leaf labels form one automorphism orbit: the leaf MNI image is
    the UNION across both roles ({1,2} ∪ {2,3} = 3 leaves, 2 centers)."""
    pairs = [(10, 1), (10, 2), (11, 2), (11, 3)]
    labels = {10: 5, 11: 5, 1: 7, 2: 7, 3: 7}
    got = _fsm_engine(spark, pairs, labels, 1)
    assert got == _fsm_brute(pairs, labels, 1)
    assert ("out_star", 5, 7, 7, 2) in got


def test_fsm_apriori_prune_preserves_frequent_patterns(spark):
    """tau above a rare edge pattern's support prunes those edges before
    level 2; every surviving pattern's support must equal the unpruned
    (brute-force) value — anti-monotonicity makes the prune lossless."""
    import random

    rng = random.Random(11)
    labels = {i: (0 if i % 2 else 1) for i in range(20)}
    labels[19] = 3  # vertex 19 is the only label-3 vertex: rare patterns
    pairs = {(19, 0), (19, 2), (1, 19)}
    while len(pairs) < 70:
        u, v = rng.randrange(19), rng.randrange(19)
        if u != v:
            pairs.add((u, v))
    pairs = sorted(pairs)
    assert _fsm_engine(spark, pairs, labels, 2) == _fsm_brute(pairs, labels, 2)
