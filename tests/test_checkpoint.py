"""Checkpoint/resume acceptance (SURVEY §5.5, BASELINE.json:14)."""

import os

from pyspark.sql import functions as F

from scalemine_spark import fixtures as FX
from scalemine_spark.algorithms import pagerank
from scalemine_spark.checkpoint import CheckpointManager
from tests.conftest import edges_df


def _drop_all_manifest_versions(ck: CheckpointManager, it: int) -> None:
    """Crash simulation: a commit is only 'gone' once EVERY manifest version
    (base + amends) is gone — amends write fresh versioned names."""
    for v in ck._versions().get(it, []):
        os.remove(ck.manifest_path(it, v))


def test_resume_mid_algorithm(spark, tmp_path):
    """Kill after iter k (manifests truncated), restart: identical final state
    bit-for-bit and no recomputation of iters <= k.

    exact_sums=True is what makes 'bit-for-bit' a guarantee rather than a
    usually-true observation: double sums merge shuffled partials in
    fetch-timing order (a replay can land 1 ulp off — measured on HITS,
    same agg shape), decimal accumulation is associative. The default
    double-sum path has its own resume test below with the tolerance it
    actually promises (allclose 1e-12)."""
    pairs = FX.g_karate_like()
    e = edges_df(spark, pairs)

    ck = CheckpointManager(str(tmp_path), "run1", "pagerank")
    full, info_full = pagerank(e, fixed_iters=8, checkpointer=ck, exact_sums=True)
    ref = {r["id"]: r["rank"] for r in full.collect()}

    # simulate crash: drop committed state for iters 5..7
    for k in (5, 6, 7):
        _drop_all_manifest_versions(ck, k)
    ck2 = CheckpointManager(str(tmp_path), "run1", "pagerank")
    assert ck2.latest() == 4
    resumed, info_res = pagerank(e, fixed_iters=8, checkpointer=ck2, exact_sums=True)
    got = {r["id"]: r["rank"] for r in resumed.collect()}

    assert info_res["iters_run"] == 3  # only 5,6,7 recomputed
    assert got == ref  # bit-for-bit identical


def test_resume_mid_algorithm_default_sums(spark, tmp_path):
    """Same crash/resume scenario on the default double-sum path: replay
    must agree to 1e-12 relative (the shuffle-merge-order jitter bound is
    ~1 ulp/sum; the score CONTRACT is allclose 1e-6)."""
    pairs = FX.g_karate_like()
    e = edges_df(spark, pairs)

    ck = CheckpointManager(str(tmp_path), "run1", "pagerank")
    full, info_full = pagerank(e, fixed_iters=8, checkpointer=ck)
    ref = {r["id"]: r["rank"] for r in full.collect()}

    for k in (5, 6, 7):
        _drop_all_manifest_versions(ck, k)
    ck2 = CheckpointManager(str(tmp_path), "run1", "pagerank")
    resumed, info_res = pagerank(e, fixed_iters=8, checkpointer=ck2)
    got = {r["id"]: r["rank"] for r in resumed.collect()}

    assert info_res["iters_run"] == 3
    assert got.keys() == ref.keys()
    assert all(abs(got[k] - ref[k]) <= 1e-12 * max(1.0, abs(ref[k])) for k in ref)


def test_torn_manifest_is_ignored(spark, tmp_path):
    pairs = FX.G_TWO_CC
    e = edges_df(spark, pairs)
    ck = CheckpointManager(str(tmp_path), "r", "pagerank")
    pagerank(e, fixed_iters=3, checkpointer=ck)
    # corrupt EVERY manifest version of the newest iter mid-write (torn json)
    for v in ck._versions()[2]:
        with open(ck.manifest_path(2, v), "w") as fh:
            fh.write('{"iter": 2, "files": [')
    assert CheckpointManager(str(tmp_path), "r", "pagerank").latest() == 1


def test_torn_amend_falls_back_to_base_manifest(spark, tmp_path):
    """A torn AMEND must not un-commit the iteration: readers fall back to
    the previous complete version (the reason amends write fresh names)."""
    e = edges_df(spark, FX.G_TWO_CC)
    ck = CheckpointManager(str(tmp_path), "r", "pagerank")
    pagerank(e, fixed_iters=3, checkpointer=ck)
    versions = ck._versions()[2]
    assert len(versions) >= 2  # base commit + metrics amend
    with open(ck.manifest_path(2, versions[-1]), "w") as fh:
        fh.write('{"iter": 2, "met')  # torn newest amend
    ck2 = CheckpointManager(str(tmp_path), "r", "pagerank")
    assert ck2.latest() == 2
    m = ck2.read_manifest(2)
    assert m["iter"] == 2 and m["files"]  # complete older version served


def test_metrics_history_complete(spark, tmp_path):
    e = edges_df(spark, FX.G_CYCLE_DANGLING)
    ck = CheckpointManager(str(tmp_path), "r", "pagerank")
    _, info = pagerank(e, fixed_iters=4, checkpointer=ck)
    hist = ck.metrics_history()
    assert [h["iter"] for h in hist] == [0, 1, 2, 3]
    assert all("l1_delta" in h and "dangling_mass" in h for h in hist)
    # dangling vertex 4 holds mass every iteration
    assert all(h["dangling_mass"] > 0 for h in hist)
    # mass conserved
    assert all(abs(h["total_mass"] - 1.0) < 1e-9 for h in hist)


def test_cc_checkpoint_resume(spark, tmp_path):
    pairs = FX.G_TWO_CC + [(20, 21), (21, 22)]
    e = edges_df(spark, pairs)
    from scalemine_spark.algorithms import connected_components

    ck = CheckpointManager(str(tmp_path), "r", "cc")
    comps, info = connected_components(e, checkpointer=ck)
    ref = {r["id"]: r["comp"] for r in comps.collect()}

    # resume from the last committed round: must converge to the same labels
    ck2 = CheckpointManager(str(tmp_path), "r", "cc")
    comps2, info2 = connected_components(e, checkpointer=ck2)
    got = {r["id"]: r["comp"] for r in comps2.collect()}
    assert got == ref


def test_manifest_metrics_keep_ints_exact(spark, tmp_path):
    """An int metric beyond a double's 53-bit mantissa (CC's 64-bit
    fingerprint) round-trips exactly through the commit, a queued amend, a
    synchronous amend and read_manifest; floats stay floats."""
    big = 2**62 + 1
    ck = CheckpointManager(str(tmp_path), "r", "ints")
    ck.commit(0, spark.range(3), {"h": big, "x": 0.5})
    ck.amend_metrics(0, {"queued": big})
    ck.flush()
    ck.amend_metrics(0, {"sync": -big, "y": 2.0})
    m = CheckpointManager(str(tmp_path), "r", "ints").read_manifest(0)["metrics"]
    assert m == {"h": big, "x": 0.5, "queued": big, "sync": -big, "y": 2.0}
    assert all(type(m[k]) is int for k in ("h", "queued", "sync"))
    assert type(m["x"]) is float and type(m["y"]) is float


def test_cc_round_manifest_stores_the_exact_fingerprint(spark, tmp_path):
    """Each round's manifest holds the committed set's exact fingerprint,
    and a resume seeds its convergence test from it: resumed after the
    converged round, one round reproduces the stored fingerprint and
    stops (a rounded h would not compare equal and run a second)."""
    from scalemine_spark.algorithms import connected_components

    e = edges_df(spark, FX.G_TWO_CC + [(20, 21), (21, 22)])
    ck = CheckpointManager(str(tmp_path), "r", "cc")
    _, info = connected_components(e, checkpointer=ck, endgame_rows=0)
    assert info["converged"]
    for it in range(info["rounds"]):
        m = ck.read_manifest(it)
        row = ck.read_state(spark, it).agg(
            F.count("*").alias("c"), F.bit_xor(F.xxhash64("u", "v")).alias("h")
        ).collect()[0]
        assert m["metrics"]["c"] == m["row_count"] == row["c"]
        assert m["metrics"]["h"] == row["h"]

    ck2 = CheckpointManager(str(tmp_path), "r", "cc")
    _, info2 = connected_components(e, checkpointer=ck2, endgame_rows=0)
    assert info2["converged"]
    assert len(info2["round_seconds"]) == 1
    assert info2["rounds"] == info["rounds"] + 1
