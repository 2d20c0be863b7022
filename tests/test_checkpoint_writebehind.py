"""Write-behind checkpoint commits: manifest-exact resume, publish faults,
flush-before-return, and job-group inheritance of the background writer."""

import json
import os
import random
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from scalemine_spark import fixtures as FX
from scalemine_spark.algorithms import (
    bfs_hops,
    connected_components,
    hits,
    hyperball,
    kcore,
    label_propagation,
    pagerank,
    personalized_pagerank,
    scc,
    sssp,
)
from scalemine_spark.checkpoint import CheckpointManager
from tests.conftest import edges_df


class _WrappedFS:
    """Delegates to a manager's real filesystem; subclasses intercept the
    manifest writes."""

    def __init__(self, fs):
        self._fs = fs

    def __getattr__(self, name):
        return getattr(self._fs, name)


class _FailManifestFS(_WrappedFS):
    """Fails one manifest publish after its tmp file is written: the
    parquet is in the store, the rename never happens."""

    def __init__(self, fs, path):
        super().__init__(fs)
        self._path = path

    def write_bytes_atomic(self, p, data):
        if p == self._path:
            with open(p + ".tmp", "wb") as fh:
                fh.write(data)
            raise OSError(f"injected fault publishing {os.path.basename(p)}")
        self._fs.write_bytes_atomic(p, data)


class _SlowManifestFS(_WrappedFS):
    """Delays every version-0 manifest publish, so a caller that returns
    without flushing would leave its last iteration unpublished."""

    def write_bytes_atomic(self, p, data):
        if ".v" not in os.path.basename(p):
            time.sleep(0.5)
        self._fs.write_bytes_atomic(p, data)


def _drop_all_manifest_versions(ck, it):
    for v in ck._versions().get(it, []):
        os.remove(ck.manifest_path(it, v))


def test_resume_reads_only_manifest_files(spark, tmp_path):
    e = edges_df(spark, FX.g_karate_like())
    ck = CheckpointManager(str(tmp_path), "r", "pagerank")
    full, _ = pagerank(e, fixed_iters=6, checkpointer=ck, exact_sums=True)
    ref = {r["id"]: r["rank"] for r in full.collect()}

    for k in (4, 5):
        _drop_all_manifest_versions(ck, k)
    # a stray part file in the committed dir (an aborted writer's leftover):
    # a resume that listed the dir would double-count vertex 0
    stray = pa.table({"id": [0], "out_deg": [1], "rank": [123.0]})
    pq.write_table(stray, os.path.join(ck.data_dir(3), "part-99999-stray.parquet"))

    ck2 = CheckpointManager(str(tmp_path), "r", "pagerank")
    assert ck2.latest() == 3
    m = ck2.read_manifest(3)
    state = ck2.read_state(spark, 3)
    assert state.schema == StructType.fromJson(json.loads(m["schema"]))
    assert state.count() == m["row_count"]

    resumed, info = pagerank(e, fixed_iters=6, checkpointer=ck2, exact_sums=True)
    assert info["iters_run"] == 2
    assert {r["id"]: r["rank"] for r in resumed.collect()} == ref


def test_publish_fault_raises_and_resumes_bit_identical(spark, tmp_path):
    e = edges_df(spark, FX.g_karate_like())
    ref_ranks, _ = pagerank(
        e, fixed_iters=6, exact_sums=True,
        checkpointer=CheckpointManager(str(tmp_path), "ref", "pagerank"),
    )
    ref = {r["id"]: r["rank"] for r in ref_ranks.collect()}

    ck = CheckpointManager(str(tmp_path), "r", "pagerank")
    ck._fs = _FailManifestFS(ck._fs, ck.manifest_path(3))
    with ThreadPoolExecutor(1) as pool:
        call = pool.submit(pagerank, e, fixed_iters=6, checkpointer=ck, exact_sums=True)
        # the fault must surface as the call's error, not hang or vanish
        with pytest.raises(OSError, match="injected fault publishing 000003.json"):
            call.result(timeout=300)

    assert ck.latest() == 2
    ck2 = CheckpointManager(str(tmp_path), "r", "pagerank")
    assert ck2.latest() == 2
    resumed, info = pagerank(e, fixed_iters=6, checkpointer=ck2, exact_sums=True)
    assert info["iters_run"] == 3
    assert {r["id"]: r["rank"] for r in resumed.collect()} == ref


_ALGOS = {
    "pagerank": lambda e, ck: pagerank(e, fixed_iters=3, checkpointer=ck),
    "ppr": lambda e, ck: personalized_pagerank(e, [0], fixed_iters=3, checkpointer=ck),
    "hits": lambda e, ck: hits(e, iters=3, checkpointer=ck),
    "labelprop": lambda e, ck: label_propagation(e, iters=2, checkpointer=ck),
    "bfs": lambda e, ck: bfs_hops(e, [0], checkpointer=ck),
    "sssp": lambda e, ck: sssp(e.withColumn("weight", F.lit(1)), [0], checkpointer=ck),
    "kcore": lambda e, ck: kcore(e, 2, checkpointer=ck),
    "neighborhood": lambda e, ck: hyperball(e, max_t=2, checkpointer=ck),
    "scc": lambda e, ck: scc(e, checkpointer=ck),
    "components": lambda e, ck: connected_components(e, checkpointer=ck, endgame_rows=0),
}


@pytest.mark.parametrize("algo", sorted(_ALGOS))
def test_algorithm_flushes_before_return(spark, tmp_path, algo):
    e = edges_df(spark, FX.G_CYCLE_DANGLING + FX.G_TWO_CC[3:])
    ck = CheckpointManager(str(tmp_path), "r", algo)
    ck._fs = _SlowManifestFS(ck._fs)
    _ALGOS[algo](e, ck)
    seen = CheckpointManager(str(tmp_path), "r", algo).latest()
    assert seen is not None and seen == ck.latest()


def test_background_publish_inherits_job_group(spark, tmp_path):
    sc = spark.sparkContext
    st = sc.statusTracker()
    ungrouped = set(st.getJobIdsForGroup(None))
    e = edges_df(spark, FX.G_CYCLE_DANGLING)
    sc.setJobGroup("g", "write-behind checkpoint")
    try:
        pagerank(e, fixed_iters=3, checkpointer=CheckpointManager(str(tmp_path), "r", "pr"))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    writes = [
        s
        for j in st.getJobIdsForGroup("g")
        for s in st.getJobInfo(j).stageIds
        if st.getStageInfo(s) is not None and st.getStageInfo(s).name.startswith("parquet")
    ]
    assert len(writes) >= 3  # one parquet write per committed iteration
    assert set(st.getJobIdsForGroup(None)) == ungrouped


class _FakeFrame:
    """Stands in for a DataFrame: its localCheckpoint is itself and its
    write drops one tiny parquet file, so a publish runs no Spark job."""

    schema = StructType([StructField("id", LongType())])
    write = property(lambda self: self)

    def localCheckpoint(self, eager=True):
        return self

    def mode(self, _):
        return self

    def parquet(self, path):
        os.makedirs(path, exist_ok=True)
        pq.write_table(pa.table({"id": [1]}), os.path.join(path, "part-0.parquet"))


def test_queued_amends_survive_thread_interleaving(spark, tmp_path):
    """An amend racing the writer's last queue check must be applied, not
    dropped: 8 managers (more than the cores) commit-and-amend at once
    with a tiny switch interval, each amend jittered across the publish."""
    n_iters = 100

    def run(w):
        rng = random.Random(w)
        ck = CheckpointManager(str(tmp_path), f"w{w}", "fake")
        for it in range(n_iters):
            ck.commit(it, _FakeFrame(), {})
            time.sleep(rng.uniform(0.0, 0.004))
            ck.amend_metrics(it, {"it": float(it)})
        ck.flush()
        return ck

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            calls = [pool.submit(run, w) for w in range(8)]
            managers = [c.result(timeout=120) for c in calls]
    finally:
        sys.setswitchinterval(old)
    for ck in managers:
        assert ck.latest() == n_iters - 1
        for it in range(n_iters):
            assert ck._versions()[it] == [0, 1]
            assert ck.read_manifest(it)["metrics"] == {"it": float(it)}
