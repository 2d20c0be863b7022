"""In-memory spans, Spark job groups and the reducers that turn them and the
Spark event log into per-layer numbers.

A span wraps one call into a public function of ``scalemine_spark``,
together with the collect of its answer to the driver. While a span is open
its id is the Spark job group, so every job, stage and task in the event
log can be attributed to the innermost span that caused it. Nothing here touches
engine internals: job groups are a SparkContext local property, the event
log is switched on by conf, and checkpoint calls are wrapped by subclassing
``CheckpointManager`` and passing it through ``checkpointer=``.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass

from scalemine_spark.checkpoint import CheckpointManager

JOB_GROUP = "spark.jobGroup.id"
GROUP_PREFIX = "perfbench-span-"
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: int | None


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op, so
    the untraced runs that give the end-to-end numbers pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = None

    def attach(self, spark_context) -> None:
        """Start setting job groups (the session exists only after the
        ``session.start`` span)."""
        if self.enabled:
            self._sc = spark_context

    @contextlib.contextmanager
    def span(self, name: str, pass_id: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if pass_id is None and parent is not None:
            pass_id = self.spans[parent].pass_id
        s = Span(len(self.spans), name, time.monotonic(), float("nan"), parent, pass_id)
        self.spans.append(s)
        self._stack.append(s.sid)
        sc = self._sc
        prev = sc.getLocalProperty(JOB_GROUP) if sc is not None else None
        if sc is not None:
            sc.setLocalProperty(JOB_GROUP, f"{GROUP_PREFIX}{s.sid}")
        try:
            yield
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty(JOB_GROUP, prev)


class TracedCheckpointManager(CheckpointManager):
    """CheckpointManager whose public methods each run inside a span (and so
    in their own job group)."""

    def __init__(self, tracer: Tracer, root: str, run_id: str, algo: str):
        super().__init__(root, run_id, algo)
        self.tracer = tracer

    def commit(self, it, state, metrics):
        with self.tracer.span("checkpoint.commit"):
            return super().commit(it, state, metrics)

    def amend_metrics(self, it, metrics):
        with self.tracer.span("checkpoint.amend_metrics"):
            return super().amend_metrics(it, metrics)

    def latest(self):
        with self.tracer.span("checkpoint.latest"):
            return super().latest()

    def read_state(self, spark, it):
        with self.tracer.span("checkpoint.read_state"):
            return super().read_state(spark, it)


# -- reducers ---------------------------------------------------------------


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_start = cur_end = None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it that child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            children[s.parent].append((max(s.start, p.start), min(s.end, p.end)))
    return {
        s.sid: (s.end - s.start) - _union_length(children.get(s.sid, []))
        for s in spans
    }


@dataclass
class SparkCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    python_bytes_sent: int = 0
    python_bytes_received: int = 0

    def add(self, other: "SparkCounters") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def _accumulable(info: dict, name: str) -> int:
    return sum(
        int(a.get("Update") or 0)
        for a in info.get("Accumulables", [])
        if a.get("Name") == name
    )


def reduce_event_log(lines) -> dict[str, SparkCounters]:
    """Aggregate a Spark event log (an iterable of JSON lines) by job group.

    Jobs are counted at JobStart, stages at StageCompleted (skipped stages
    never complete, so reused shuffle output is not counted twice), and task
    metrics at TaskEnd. Stages and tasks are attributed through the job group
    in their StageSubmitted properties. Events without a job group fall
    under the empty string."""
    out: dict[str, SparkCounters] = defaultdict(SparkCounters)
    stage_group: dict[tuple[int, int], str] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            out[(ev.get("Properties") or {}).get(JOB_GROUP) or ""].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            si = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get(JOB_GROUP) or ""
            stage_group[(si["Stage ID"], si["Stage Attempt ID"])] = group
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            out[stage_group.get((si["Stage ID"], si["Stage Attempt ID"]), "")].stages += 1
        elif kind == "SparkListenerTaskEnd":
            c = out[stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]), "")]
            c.tasks += 1
            m = ev.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            c.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            c.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
            c.spill_bytes += m.get("Disk Bytes Spilled", 0)
            c.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            c.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
            c.gc_s += m.get("JVM GC Time", 0) / 1000.0
            info = ev.get("Task Info") or {}
            c.python_bytes_sent += _accumulable(info, PY_SENT)
            c.python_bytes_received += _accumulable(info, PY_RECEIVED)
    return dict(out)


def per_pass_layers(
    spans: list[Span], groups: dict[str, SparkCounters], passes: list[int]
) -> tuple[dict[str, float], dict[str, float], dict[str, SparkCounters]]:
    """For each span name: the median over ``passes`` of its per-pass self
    time, of its per-pass inclusive time, and of its per-pass Spark counters
    (field by field).

    The pass span's own self time is the time inside a pass that no call
    span covers."""
    st = self_times(spans)
    self_s: dict[str, dict[int, float]] = defaultdict(lambda: {p: 0.0 for p in passes})
    incl_s: dict[str, dict[int, float]] = defaultdict(lambda: {p: 0.0 for p in passes})
    ctr: dict[str, dict[int, SparkCounters]] = defaultdict(
        lambda: {p: SparkCounters() for p in passes}
    )
    for s in spans:
        if s.pass_id not in passes:
            continue
        self_s[s.name][s.pass_id] += st[s.sid]
        incl_s[s.name][s.pass_id] += s.end - s.start
        g = groups.get(f"{GROUP_PREFIX}{s.sid}")
        if g is not None:
            ctr[s.name][s.pass_id].add(g)
    med_ctr = {}
    for name, by_pass in ctr.items():
        m = SparkCounters()
        for k in SparkCounters.__dataclass_fields__:
            setattr(m, k, statistics.median(getattr(c, k) for c in by_pass.values()))
        med_ctr[name] = m
    return (
        {k: statistics.median(v.values()) for k, v in self_s.items()},
        {k: statistics.median(v.values()) for k, v in incl_s.items()},
        med_ctr,
    )
