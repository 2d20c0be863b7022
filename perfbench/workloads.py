"""The three workloads: one setup, then passes run back to back in one
driver process on one SparkSession (a closed loop with a single client).

Each pass is timed from outside by wall clock around calls into public
functions of ``scalemine_spark``; each answer is collected to the driver
inside the timed region and checked after it. Per-pass bookkeeping that is
not the workload's own work (dropping caches, rebuilding the edge cache,
emptying the checkpoint root, correctness checks) runs outside the pass.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from scalemine_spark.algorithms import (
    connected_components,
    hits,
    label_propagation,
    pagerank,
    triangle_count,
)
from scalemine_spark.checkpoint import CheckpointManager
from scalemine_spark.extract import extract_edge_urls, extract_edges, url_id

from perfbench.inputs import ITERATE_ITERS, labelprop_reference, pagerank_reference
from perfbench.tracing import TracedCheckpointManager

# durable: a pass restarts DURABLE_RESTARTS PageRank jobs; each runs K
# iterations, then an N-iteration call on the same store resumes it
DURABLE_PR_N, DURABLE_PR_K, DURABLE_RESTARTS = 8, 1, 2
# the untimed warm-up pass makes every call of a timed pass, with fewer
# iterations: it compiles the same plans and warms up the same code for
# less of the run budget
WARMUP_ITERS = {"pr": 3, "lpa": 1, "hits": 1}
WARMUP_PR_N, WARMUP_PR_K, WARMUP_RESTARTS = 3, 1, 1
# double sums merge in shuffle-fetch order, so the last bits may move
CHECKSUM_RTOL = 1e-9


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=CHECKSUM_RTOL, abs_tol=0.0)


def _sumsq(col: str):
    return F.sum(F.col(col) * F.col(col))


class Workload:
    name = ""
    warmup_passes = 0

    def __init__(self, spark, inputs: dict, tracer, work_dir: str):
        self.spark = spark
        self.inputs = inputs
        self.ref = inputs["reference"]
        self.tr = tracer
        self.work_dir = work_dir
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.records: list[dict] = []  # one per pass, warm-up passes included

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def setup(self) -> None:
        """Load the inputs and build the caches the passes read."""

    def before_pass(self) -> None:
        self.spark.catalog.clearCache()

    def run_pass(self, pid: int) -> dict:
        raise NotImplementedError

    def end_to_end(self, timed: list[dict]) -> dict[str, float]:
        """``edges_per_s`` and ``resume_s`` from the timed pass records."""
        raise NotImplementedError

    def _truth_edges(self):
        """The generator's ground-truth link pairs as the engine's (src, dst)
        id table: ``url_id`` is a JVM expression, so no Python UDF runs."""
        ex = self.spark.read.parquet(self.inputs["edges_expected"])
        width = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        return (
            ex.select(url_id(F.col("src_url")).alias("src"), url_id(F.col("dst_url")).alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
            .repartition(width, "src")
        )


class Ingest(Workload):
    """pages -> edge table (Stage A). Almost all of it is the Arrow crossing
    and URL parsing; no algorithm or checkpoint code runs."""

    name = "ingest"
    warmup_passes = 3

    def setup(self) -> None:
        self.pages = self.spark.read.parquet(self.inputs["pages"])
        self.n_pages = self.pages.count()
        exp = self._edge_digest(self._truth_edges())
        self.expected = (exp["n"], exp["x"])
        self.check("ground truth edge count matches the reference", exp["n"] == self.ref["edges"])

    @staticmethod
    def _edge_digest(edges) -> dict:
        """Edge count and an order-independent checksum of the id pairs."""
        return edges.agg(
            F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("src", "dst")).alias("x")
        ).collect()[0].asDict()

    def run_pass(self, pid: int) -> dict:
        with self.tr.span("pass", pid):
            t0 = time.monotonic()
            with self.tr.span("extract.edges"):
                got = self._edge_digest(extract_edges(self.pages))
            wall = time.monotonic() - t0
        if self.tr.enabled:
            # parse, normalise and pair dedup without the id hashing; a
            # root span of its own, outside the pass's run_s
            with self.tr.span("extract.edge_urls", pid):
                extract_edge_urls(self.pages).count()
        self.check(f"pass {pid}: extracted edges equal edges_expected", (got["n"], got["x"]) == self.expected)
        return {"wall": wall, "extract_s": wall, "edges": got["n"]}

    def end_to_end(self, timed):
        extract_s = statistics.median(r["extract_s"] for r in timed)
        # nothing is committed, so a restarted ingest job recomputes in full
        return {"edges_per_s": timed[0]["edges"] / extract_s, "resume_s": extract_s}


class _GraphWorkload(Workload):
    """A workload over the ground-truth edge table, cached once per pass.
    Its first pass is an untimed warm-up: a first pass pays plan
    compilation and JIT warm-up, and its times varied far more from run to
    run than those of a warm pass."""

    warmup_passes = 1

    def setup(self) -> None:
        self.edges = self._truth_edges().persist()
        self.n_edges = self.edges.count()
        self._ids = None
        self.check("edge table matches the reference edge count", self.n_edges == self.ref["edges"])

    def before_pass(self) -> None:
        super().before_pass()
        self.edges.persist()
        self.edges.count()

    def _id_table(self) -> tuple:
        """The engine's (src, dst) id arrays, collected once. The references
        that depend on how vertices are numbered run on them."""
        if self._ids is None:
            ids = self.edges.toPandas()
            self._ids = (ids["src"].to_numpy(), ids["dst"].to_numpy())
        return self._ids

    @staticmethod
    def _pr_iter_samples(timed: list[dict]) -> list[float]:
        return [s for r in timed for it in r["pr_iter_seconds"] for s in it[2:]]


class Iterate(_GraphWorkload):
    """The in-memory loops and their per-iteration state exchange; no
    extraction and no checkpoint store."""

    name = "iterate"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.lpa_ref: tuple[int, int] | None = None

    def _lpa_reference(self) -> tuple[int, int]:
        """Label count and label sum of ``label_propagation(iters=...)`` on
        this edge table, from the numpy reference in ``inputs.py``. Its
        ties go to the smallest label, so it needs the engine's own vertex
        ids: the id table is collected once, after the first timed pass."""
        labels = labelprop_reference(*self._id_table(), ITERATE_ITERS["lpa"])
        return len(set(labels.tolist())), sum(labels.tolist())

    def run_pass(self, pid: int) -> dict:
        warm = pid < self.warmup_passes
        e, n, rec = self.edges, WARMUP_ITERS if warm else ITERATE_ITERS, {}
        with self.tr.span("pass", pid):
            t_pass = time.monotonic()
            with self.tr.span("algorithms.labelprop"):
                labels, _ = label_propagation(e, iters=n["lpa"])
                lk = labels.agg(
                    F.countDistinct("label"), F.sum(F.col("label").cast("decimal(38,0)"))
                ).collect()[0]
            with self.tr.span("algorithms.hits"):
                scores, h_info = hits(e, iters=n["hits"])
                hk = scores.agg(_sumsq("auth"), _sumsq("hub")).collect()[0]
            with self.tr.span("algorithms.components"):
                comps, cc_info = connected_components(e)
                n_comps = comps.agg(F.countDistinct("comp")).collect()[0][0]
            with self.tr.span("algorithms.triangles"):
                n_tri = triangle_count(e).collect()[0]["triangles"]
            with self.tr.span("algorithms.pagerank"):
                t0 = time.monotonic()
                ranks, info = pagerank(e, fixed_iters=n["pr"])
                t_call = time.monotonic() - t0
                pr = ranks.agg(F.sum("rank").alias("mass"), _sumsq("rank").alias("sumsq")).collect()[0]
            rec["wall"] = time.monotonic() - t_pass

        self.check(f"pass {pid}: pagerank mass within 1e-6 of 1", abs(pr["mass"] - 1.0) <= 1e-6)
        ref = self.ref
        self.check(f"pass {pid}: components match the reference", n_comps == ref["components"])
        self.check(f"pass {pid}: triangles match the reference", n_tri == ref["triangles"])
        if not warm:
            # the references are for the timed passes' iteration counts
            self.check(f"pass {pid}: pagerank matches the reference", _close(pr["sumsq"], ref["pagerank_sumsq"]))
            self.check(
                f"pass {pid}: hits matches the reference",
                _close(hk[0], ref["hits_auth_sumsq"]) and _close(hk[1], ref["hits_hub_sumsq"]),
            )
            if self.lpa_ref is None:
                self.lpa_ref = self._lpa_reference()
            self.check(f"pass {pid}: labelprop matches the reference", (lk[0], int(lk[1])) == self.lpa_ref)
        rec.update(
            pr_iter_seconds=[info["iter_seconds"]],
            pr_prepare_s=[t_call - info["seconds"]],
            pr_iters=[info["iters_run"]],
            hits_iter_seconds=h_info["iter_seconds"],
            cc_rounds=cc_info["rounds"],
            cc_endgame_s=cc_info["endgame_seconds"] or 0.0,
            triangles=n_tri,
        )
        return rec

    def end_to_end(self, timed):
        # nothing is committed, so a restarted job recomputes the whole pass
        return {
            "edges_per_s": self.n_edges / statistics.median(self._pr_iter_samples(timed)),
            "resume_s": statistics.median(r["wall"] for r in timed),
        }


class Durable(_GraphWorkload):
    """PageRank committing every iteration to a local checkpoint store:
    each job is stopped after K iterations, restarted, and resumed to N."""

    name = "durable"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.ck_root = os.path.join(self.work_dir, "checkpoints")
        self.pr_ref = None

    def _store(self, pid: int, job: str, traced: bool = True) -> CheckpointManager:
        if traced and self.tr.enabled:
            return TracedCheckpointManager(self.tr, self.ck_root, f"pass{pid}", job)
        return CheckpointManager(self.ck_root, f"pass{pid}", job)

    def before_pass(self) -> None:
        super().before_pass()
        shutil.rmtree(self.ck_root, ignore_errors=True)

    def _pagerank(self, rec, pid, job, iters, collect):
        with self.tr.span("algorithms.pagerank"):
            t0 = time.monotonic()
            ranks, info = pagerank(self.edges, fixed_iters=iters, checkpointer=self._store(pid, job))
            rec["pr_prepare_s"].append(time.monotonic() - t0 - info["seconds"])
            if collect:
                ranks.agg(F.sum("rank")).collect()
        rec["pr_iter_seconds"].append(info["iter_seconds"])
        rec["pr_iters"].append(info["iters_run"])
        return ranks, info, time.monotonic() - t0

    def _ranks_match_reference(self, ranks, n: int) -> bool:
        """Every rank within 1e-9 relative of an uninterrupted N-iteration
        PageRank, from the numpy reference on the engine's vertex ids."""
        if self.pr_ref is None or self.pr_ref[0] != n:
            self.pr_ref = (n, *pagerank_reference(*self._id_table(), n))
        _, ids, want = self.pr_ref
        got = ranks.toPandas().sort_values("id")
        return np.array_equal(got["id"].to_numpy(), ids) and np.allclose(
            got["rank"].to_numpy(), want, rtol=CHECKSUM_RTOL, atol=0.0
        )

    def run_pass(self, pid: int) -> dict:
        rec = {"pr_iter_seconds": [], "pr_prepare_s": [], "pr_iters": [], "resume_s": []}
        if pid < self.warmup_passes:
            n, k, jobs = WARMUP_PR_N, WARMUP_PR_K, WARMUP_RESTARTS
        else:
            n, k, jobs = DURABLE_PR_N, DURABLE_PR_K, DURABLE_RESTARTS
        resumed = []
        with self.tr.span("pass", pid):
            t_pass = time.monotonic()
            for j in range(jobs):
                self._pagerank(rec, pid, f"pr{j}", k, False)
                ranks, info, resume_s = self._pagerank(rec, pid, f"pr{j}", n, True)
                rec["resume_s"].append(resume_s)
                resumed.append((ranks, info))
            rec["wall"] = time.monotonic() - t_pass

        for j, (ranks, info) in enumerate(resumed):
            self.check(f"pass {pid}: job pr{j} latest() is N-1", self._store(pid, f"pr{j}", False).latest() == n - 1)
            self.check(f"pass {pid}: job pr{j} resumed at K", info["iters_run"] == n - k)
            self.check(
                f"pass {pid}: job pr{j} resumed ranks allclose 1e-9 to uninterrupted",
                self._ranks_match_reference(ranks, n),
            )
        return rec

    def end_to_end(self, timed):
        return {
            "edges_per_s": self.n_edges / statistics.median(self._pr_iter_samples(timed)),
            "resume_s": statistics.median(s for r in timed for s in r["resume_s"]),
        }


WORKLOADS = {w.name: w for w in (Ingest, Iterate, Durable)}
