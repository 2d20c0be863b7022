"""The iteration kernel (scalemine_spark/iterate.py) and the loops built on
it: commit-then-amend order, the stop test, HITS resume and argument
checks, LPA crash-resume, resume bounded by the call's iteration count,
and one Spark job per iteration."""

import os

import pytest
from pyspark.sql import functions as F

from scalemine_spark import fixtures as FX
from scalemine_spark.algorithms import (
    connected_components,
    hits,
    hyperball,
    label_propagation,
    neighborhood_function,
    pagerank,
    personalized_pagerank,
    random_walks,
)
from scalemine_spark.checkpoint import CheckpointManager
from scalemine_spark.iterate import iterate, loop_session, resume
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


_CHAIN = [(i, i + 1) for i in range(1000)]  # CC needs ~log2(1000) rounds

_RUNS = {
    "pagerank": lambda e, k, **kw: pagerank(e, fixed_iters=k, **kw),
    "ppr": lambda e, k, **kw: personalized_pagerank(e, [0, 1], fixed_iters=k, **kw),
    "hits": lambda e, k, **kw: hits(e, iters=k, **kw),
    "labelprop": lambda e, k, **kw: label_propagation(e, iters=k, **kw),
    "hyperball": lambda e, k: hyperball(e, max_t=k),
    # endgame_rows=0: the distributed rounds are what the count is about
    "components": lambda e, k: connected_components(e, max_rounds=k, endgame_rows=0),
    "random_walks": lambda e, k: random_walks(e, [0, 1, 2], length=k),
    "neighborhood": lambda e, k: neighborhood_function(e, max_t=k),
}
# graphs on which iteration k+1 still does work: CC does not converge and
# N(t) does not saturate within 3 steps of a long directed chain
_GRAPHS = {"components": _CHAIN, "neighborhood": _CHAIN}


@pytest.mark.parametrize("algo", ["hits", "labelprop", "pagerank", "ppr"])
def test_resume_stops_at_the_calls_last_iteration(spark, tmp_path, algo):
    """A store that ran 5 iterations answers a 3-iteration call from its
    iteration 2, exactly as a fresh 3-iteration run does — not from the
    store's later state."""
    e = edges_df(spark, FX.g_karate_like())
    _RUNS[algo](e, 5, checkpointer=CheckpointManager(str(tmp_path), "r", algo))
    got, _ = _RUNS[algo](e, 3, checkpointer=CheckpointManager(str(tmp_path), "r", algo))
    ref, _ = _RUNS[algo](e, 3)

    def rows(df):
        return {r["id"]: [v for k, v in r.asDict().items() if k != "id"] for r in df.collect()}

    g, w = rows(got), rows(ref)
    assert g.keys() == w.keys()
    for k in w:
        for a, b in zip(g[k], w[k]):
            assert abs(a - b) <= 1e-12 * max(1.0, abs(b)), (k, g[k], w[k])


@pytest.mark.parametrize("algo", sorted(_RUNS))
def test_one_spark_job_per_iteration(spark, algo):
    """k+1 iterations cost exactly one Spark job more than k. AQE's
    map-stage jobs and broadcast-collect jobs are switched off for the
    count: with them on, one action shows up as a timing-dependent number
    of job ids; with them off, a job is an action."""
    e = edges_df(spark, _GRAPHS.get(algo, FX.g_karate_like()))
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


@pytest.mark.parametrize("algo", sorted(_RUNS))
def test_loops_leave_the_callers_session_as_it_was(spark, monkeypatch, algo):
    """No loop changes the caller's conf, not even while it runs (where a
    concurrent query on the caller's session would see it): the conf is
    identical before, during every iteration and after the call, the
    result is a frame of the caller's session, and no global temp view the
    loop routed its frames through is left behind. A persisted input stays
    cached."""
    import scalemine_spark.iterate as kernel

    e = edges_df(spark, _GRAPHS.get(algo, FX.g_karate_like())).persist()
    e.count()
    level = e.storageLevel
    db = spark.conf.get("spark.sql.globalTempDatabase")
    before = spark.conf.getAll
    during = []
    materialize = kernel.materialize

    def spy(*a, **kw):
        during.append(spark.conf.getAll)
        return materialize(*a, **kw)

    monkeypatch.setattr(kernel, "materialize", spy)
    out, _ = _RUNS[algo](e, 2)
    assert during and all(conf == before for conf in during)
    assert spark.conf.getAll == before
    assert out.sparkSession is spark
    assert out.count() > 0
    assert [t.name for t in spark.catalog.listTables(db) if t.database == db] == []
    assert e.storageLevel == level and level.useMemory
    e.unpersist()


def test_loop_session_copies_the_callers_runtime_conf(spark):
    """The child starts from the caller's runtime conf, set after the
    session was built, and overrides only the loop's width and AQE."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        before = spark.conf.getAll
        with loop_session(spark.range(5), 3) as (df, back):
            child = df.sparkSession
            assert child is not spark
            assert child.conf.get(key) == "-1"
            assert child.conf.get("spark.sql.shuffle.partitions") == "3"
            assert child.conf.get("spark.sql.adaptive.enabled") == "false"
            out = back(df.selectExpr("id * 2 AS v"))
        assert spark.conf.getAll == before
        assert out.sparkSession is spark
        assert sorted(r["v"] for r in out.collect()) == [0, 2, 4, 6, 8]
    finally:
        spark.conf.set(key, saved)
