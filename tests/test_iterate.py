"""The iteration kernel (scalemine_spark/iterate.py) and the loops built on
it: commit-then-amend order, the stop test, HITS resume and argument
checks, LPA crash-resume, and one Spark job per iteration."""

import os

import pytest
from pyspark.sql import functions as F

from scalemine_spark import fixtures as FX
from scalemine_spark.algorithms import (
    hits,
    hyperball,
    label_propagation,
    pagerank,
    personalized_pagerank,
)
from scalemine_spark.checkpoint import CheckpointManager
from scalemine_spark.iterate import iterate, resume
from tests.conftest import edges_df


class _CallLog(CheckpointManager):
    """Records the order of the kernel's checkpoint calls."""

    def __init__(self, *a):
        super().__init__(*a)
        self.calls = []

    def commit(self, it, state, metrics):
        self.calls.append(("commit", it))
        return super().commit(it, state, metrics)

    def amend_metrics(self, it, metrics):
        self.calls.append(("amend", it))
        return super().amend_metrics(it, metrics)


def _count_step(state, it, prev):
    """Adds one to every value; observes the sum and an empty-set SUM."""
    nxt = state.select("id", (F.col("v") + 1).alias("v"))
    return nxt, {"total": F.sum("v"), "none": F.sum(F.when(F.lit(False), F.col("v")))}


def test_kernel_commits_every_and_last_then_amends(spark, tmp_path):
    ck = _CallLog(str(tmp_path), "r", "count")
    state0 = spark.range(4).select("id", F.lit(0).cast("long").alias("v"))
    loop = iterate(
        _count_step,
        state0,
        0,
        5,
        name="count",
        checkpointer=ck,
        every=2,
        record=lambda s: {"sum": s["total"]},
    )
    assert [s["total"] for s in loop.scalars] == [4, 8, 12, 16, 20]
    assert all(s["none"] == 0 for s in loop.scalars)  # NULL read as 0
    assert not loop.stopped and len(loop.iter_seconds) == 5
    # every 2nd iteration and the last one commit, each followed by its amend
    assert ck.calls == [
        ("commit", 0), ("amend", 0),
        ("commit", 2), ("amend", 2),
        ("commit", 4), ("amend", 4),
    ]
    names = sorted(os.listdir(ck.manifest_dir))
    assert names == [f"{i:06d}{v}.json" for i in (0, 2, 4) for v in ("", ".v1")]
    metrics = ck.read_manifest(4)["metrics"]
    assert metrics["sum"] == 20.0 and metrics["iter_seconds"] > 0
    state, manifest, nxt = resume(ck, spark)
    assert nxt == 5 and manifest["iter"] == 4
    assert sorted(r["v"] for r in state.collect()) == [5] * 4


def test_kernel_stop_predicate_sees_previous_scalars(spark):
    state0 = spark.range(3).select("id", F.lit(0).cast("long").alias("v"))
    seen = []

    def until(s, prev):
        seen.append(prev)
        return s["total"] >= 6

    loop = iterate(_count_step, state0, 0, 10, name="stop", scalars={"total": -1}, until=until)
    assert loop.stopped and [s["total"] for s in loop.scalars] == [3, 6]
    assert seen[0] == {"total": -1} and seen[1]["total"] == 3
    assert resume(None, spark) == (None, None, 0)


def test_hits_resume_past_iters_normalizes_by_that_iteration(spark, tmp_path):
    """A store that ran to iteration 4 answers hits(iters=3) from iteration
    2's state AND iteration 2's L1 sums."""
    e = edges_df(spark, FX.g_karate_like())
    hits(e, iters=5, checkpointer=CheckpointManager(str(tmp_path), "r", "hits"))
    got, info = hits(e, iters=3, checkpointer=CheckpointManager(str(tmp_path), "r", "hits"))
    ref, _ = hits(e, iters=3)
    assert info["iters_run"] == 0
    g = {r["id"]: (r["auth"], r["hub"]) for r in got.collect()}
    w = {r["id"]: (r["auth"], r["hub"]) for r in ref.collect()}
    assert g.keys() == w.keys()
    assert abs(sum(a for a, _ in g.values()) - 1.0) <= 1e-12
    for k in w:
        for i in (0, 1):
            assert abs(g[k][i] - w[k][i]) <= 1e-12 * max(1.0, abs(w[k][i]))


def test_hits_rejects_zero_iters(spark):
    e = edges_df(spark, FX.g_karate_like())
    with pytest.raises(ValueError, match="iters"):
        hits(e, iters=0)


def test_lpa_resume(spark, tmp_path):
    """Delete the last two committed iterations; the resumed run replays
    exactly 2 iterations and lands on identical labels (integer counts and
    min-label ties: exactly deterministic)."""
    e = edges_df(spark, FX.g_karate_like())
    ck = CheckpointManager(str(tmp_path), "r", "lpa")
    l1, _ = label_propagation(e, iters=5, checkpointer=ck)
    ref = sorted((r["id"], r["label"]) for r in l1.collect())
    for it in (3, 4):
        for v in ck._versions()[it]:
            os.remove(ck.manifest_path(it, v))
    ck2 = CheckpointManager(str(tmp_path), "r", "lpa")
    l2, info = label_propagation(e, iters=5, checkpointer=ck2)
    assert info["iters_run"] == 2 and info["iters"] == 5
    assert sorted((r["id"], r["label"]) for r in l2.collect()) == ref


_RUNS = {
    "pagerank": lambda e, k: pagerank(e, fixed_iters=k),
    "ppr": lambda e, k: personalized_pagerank(e, [0, 1], fixed_iters=k),
    "hits": lambda e, k: hits(e, iters=k),
    "labelprop": lambda e, k: label_propagation(e, iters=k),
    "hyperball": lambda e, k: hyperball(e, max_t=k),
}


@pytest.mark.parametrize("algo", sorted(_RUNS))
def test_one_spark_job_per_iteration(spark, algo):
    """k+1 iterations cost exactly one Spark job more than k. AQE's
    map-stage jobs and broadcast-collect jobs are switched off for the
    count: with them on, one action shows up as a timing-dependent number
    of job ids; with them off, a job is an action."""
    e = edges_df(spark, FX.g_karate_like())
    sc = spark.sparkContext
    keys = ("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k) for k in keys}
    spark.conf.set(keys[0], "false")
    spark.conf.set(keys[1], "-1")
    try:
        jobs = []
        for k in (2, 3):
            group = f"one-job-{algo}-{k}"
            sc.setJobGroup(group, group)
            _RUNS[algo](e, k)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert jobs[1] - jobs[0] == 1, jobs
