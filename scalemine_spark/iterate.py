"""One iteration kernel for the vertex-centric loops (pagerank, ppr, hits,
labelprop, sssp and bfs, kcore, hyperball) [BASELINE.json:14]. An algorithm
supplies its preparation, a step and its output projection; iteration
control and checkpointing live here (Pregelix's one plan template).

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
"""

from __future__ import annotations

import time
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession

from scalemine_spark.checkpoint import CheckpointManager


class Loop(NamedTuple):
    state: DataFrame | None
    scalars: list[dict]  # observed, one dict per iteration run
    iter_seconds: list[float]  # from building the step to after the amend
    stopped: bool  # `until` ended the loop


def resume(checkpointer: CheckpointManager | None, spark: SparkSession):
    """(state, manifest, next iteration) of the latest committed iteration;
    (None, None, 0) without a checkpointer or a committed iteration."""
    last = checkpointer.latest() if checkpointer is not None else None
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
