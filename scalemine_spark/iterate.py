"""One iteration kernel for every iterative loop in the engine
[BASELINE.json:14]: pagerank, ppr, hits, labelprop, sssp and bfs, kcore,
hyperball, the neighborhood function, random walks, connected components'
star rounds and scc's color and reach loops. An algorithm supplies its
preparation, a step and its output projection; iteration control and
checkpointing live here (Pregelix's one plan template).

A step is `step(state, it, prev) -> (frame, {name: Column}[, keep])`: the
lazy next state, aggregates observed on it, and optionally the columns to
keep after observing. `state` is the last materialized frame, `prev` the
previous iteration's scalars (the caller's initial ones at first). Per
iteration the kernel runs ONE materializing job, with the aggregates riding
it as an Observation: `checkpointer.commit` every `every` iterations and on
the last one (write-behind, checkpoint.py), `localCheckpoint(eager=True)`
otherwise. Both truncate the lineage — the state is referenced twice per
step, so an untruncated plan doubles every iteration and Catalyst analysis
blows up around iteration ~20 (SURVEY §4.3.1). The scalars (NULL read as 0:
a SUM over zero rows) are then amended into the committed manifest with
`iter_seconds` — commit first, so manifests go v0 then v1 — and
`until(scalars, prev)` may stop the loop. The last publish is flushed
before `iterate` returns.

A loop runs in its own session (`loop_session`): `spark.newSession()`
shares the SparkContext, the cache and the global temp views but has its
own SQL conf, so a loop may set conf without any other query on the
caller's session seeing it. The child starts from a copy of the caller's
runtime conf; a loop owns only what it overrides. Pagerank, ppr and
labelprop own their width (`spark.sql.shuffle.partitions` = the edge
cache's `p`) with AQE off: the committed state then keeps
`hashpartitioning(id, p)` across `localCheckpoint`, co-partitioned with
the edge cache, so a steady iteration exchanges no state and no edges
(under AQE, localCheckpoint hands the state back with UnknownPartitioning).
Connected components owns its per-round width under the caller's AQE.
HITS stays in the caller's session: at 16M edges its steady iteration was
slower in a child session (BENCH/holdout_pr11.json).
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession

from scalemine_spark.checkpoint import CheckpointManager


class Loop(NamedTuple):
    state: DataFrame | None
    scalars: list[dict]  # observed, one dict per iteration run
    iter_seconds: list[float]  # from building the step to after the amend
    stopped: bool  # `until` ended the loop


@contextmanager
def loop_session(
    frame: DataFrame, width: int | None = None
) -> Iterator[tuple[DataFrame, Callable[[DataFrame], DataFrame]]]:
    """Yields `(frame, back)`: `frame` re-read in a child session of its
    own, and `back(df)`, which hands a child frame to the caller's session
    (module docstring). The child copies the caller's runtime conf; with
    `width` it also runs AQE off at `spark.sql.shuffle.partitions = width`.
    Frames cross through uniquely named global temp views, dropped on exit.
    The child is never stopped: that would stop the shared SparkContext."""
    caller = frame.sparkSession
    child = caller.newSession()
    # the child inherits the builder's conf, not the caller's later sets
    mine, theirs = caller.conf.getAll, child.conf.getAll
    for k in theirs.keys() - mine.keys():
        child.conf.unset(k)
    for k, v in mine.items():
        if theirs.get(k) != v:
            child.conf.set(k, v)
    if width is not None:
        child.conf.set("spark.sql.adaptive.enabled", "false")
        child.conf.set("spark.sql.shuffle.partitions", str(width))
    db = caller.conf.get("spark.sql.globalTempDatabase")
    views = []

    def route(df: DataFrame, to: SparkSession) -> DataFrame:
        views.append(f"loop_{uuid.uuid4().hex}")
        df.createOrReplaceGlobalTempView(views[-1])
        return to.table(f"{db}.{views[-1]}")

    try:
        yield route(frame, child), lambda df: route(df, caller)
    finally:
        # the catalog's dropGlobalTempView would also uncache the view's
        # plan, which is the caller's input: drop the name only
        catalog = caller._jsparkSession.sessionState().catalog()
        for name in views:
            catalog.dropGlobalTempView(name)


def resume(
    checkpointer: CheckpointManager | None, spark: SparkSession, stop: int | None = None
):
    """(state, manifest, next iteration) of the latest committed iteration
    below `stop`, the call's own iteration count (None: any) — a store that
    ran further answers from the call's last iteration, never from a later
    one; (None, None, 0) without a checkpointer or such an iteration."""
    last = checkpointer.latest() if checkpointer is not None else None
    if last is not None and stop is not None and last >= stop:
        last = checkpointer.latest_below(stop)
    if last is None:
        return None, None, 0
    return checkpointer.read_state(spark, last), checkpointer.read_manifest(last), last + 1


def materialize(frame: DataFrame, it: int, checkpointer=None, metrics=None) -> DataFrame:
    """Commit `frame` as iteration `it`, or localCheckpoint it without a
    checkpointer; either way the result has fresh lineage."""
    if checkpointer is None:
        return frame.localCheckpoint(eager=True)
    return checkpointer.commit(it, frame, metrics or {})


def iterate(
    step: Callable,
    state: DataFrame | None,
    start: int,
    stop: int,
    *,
    name: str,
    checkpointer: CheckpointManager | None = None,
    every: int = 1,
    scalars: dict | None = None,
    until: Callable[[dict, dict | None], bool] | None = None,
    record: Callable[[dict], dict] | None = None,
) -> Loop:
    """Run iterations start..stop-1 (module docstring). `name` prefixes the
    Observations; `record` maps the scalars to the manifest metrics."""
    history, seconds, stopped = [], [], False
    for it in range(start, stop):
        t_it = time.monotonic()
        frame, cols, *keep = step(state, it, scalars)
        obs = Observation(f"{name}_{it}")
        frame = frame.observe(obs, *(c.alias(k) for k, c in cols.items()))
        if keep and keep[0] is not None:
            frame = frame.select(*keep[0])
        commit = checkpointer is not None and (it % every == 0 or it == stop - 1)
        state = materialize(frame, it, checkpointer if commit else None)
        prev, scalars = scalars, {k: 0 if v is None else v for k, v in obs.get.items()}
        if commit:
            metrics = record(scalars) if record is not None else scalars
            checkpointer.amend_metrics(it, {**metrics, "iter_seconds": time.monotonic() - t_it})
        seconds.append(time.monotonic() - t_it)
        history.append(scalars)
        stopped = until is not None and until(scalars, prev)
        if stopped:
            break
    if checkpointer is not None:
        checkpointer.flush()  # the last publish is part of the call
    return Loop(state, history, seconds, stopped)
