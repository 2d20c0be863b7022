"""The benchmark's metric names and units, and the assembly of the per-layer
ledger from one traced run.

END_TO_END and PER_LAYER are the names BENCHMARK.json lists; a metric a
workload's layers never reach reads 0 there (for example checkpoint
metrics on ``iterate``).
"""

from __future__ import annotations

import statistics

from perfbench.tracing import SparkCounters, per_pass_layers

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "peak_rss_mb": "MB",
    "edges_per_s": "edges/s",
    "resume_s": "s",
}

# spark.<key> counters come from the job group of the span named here
SPARK_SPANS = {
    "extract": "extract.edges",
    "pagerank": "algorithms.pagerank",
    "labelprop": "algorithms.labelprop",
    "hits": "algorithms.hits",
    "components": "algorithms.components",
    "triangles": "algorithms.triangles",
    "checkpoint.commit": "checkpoint.commit",
}
SPARK_FIELDS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes",
    "executor_run_s": "s",
    "gc_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "extract.edges_s": "s",
    "extract.edge_urls_s": "s",
    "extract.pages": "count",
    "extract.edges": "count",
    "algorithms.pagerank.call_s": "s",
    "algorithms.pagerank.prepare_s": "s",
    "algorithms.pagerank.iter_s.first": "s",
    "algorithms.pagerank.iter_s.p50": "s",
    "algorithms.pagerank.iters": "count",
    "algorithms.labelprop.call_s": "s",
    "algorithms.hits.call_s": "s",
    "algorithms.hits.iter_s.p50": "s",
    "algorithms.components.call_s": "s",
    "algorithms.components.rounds": "count",
    "algorithms.components.endgame_s": "s",
    "algorithms.triangles.call_s": "s",
    "algorithms.triangles.triangles": "count",
    "checkpoint.commit_s.p50": "s",
    "checkpoint.commit_s.sum": "s",
    "checkpoint.commits": "count",
    "checkpoint.bytes_per_commit": "bytes",
    "checkpoint.amend_s.sum": "s",
    "checkpoint.latest_s": "s",
    "checkpoint.read_state_s": "s",
    **{f"spark.{k}.{f}": u for k in SPARK_SPANS for f, u in SPARK_FIELDS.items()},
    "spark.extract.python_bytes_sent": "bytes",
    "spark.extract.python_bytes_received": "bytes",
    "spark.pagerank.shuffle_bytes_per_iter": "bytes",
    "process.driver_peak_rss_mb": "MB",
    "process.jvm_peak_rss_mb": "MB",
    "process.workers_peak_rss_mb": "MB",
    "process.jvm_heap_peak_used_mb": "MB",
    "process.jvm_old_gen_peak_used_mb": "MB",
    "host.load1_max": "load",
    "host.steal_pct": "%",
    "trace.run_s": "s",
    "trace.self_s": "s",
    "trace.unattributed_s": "s",
}


def _median(xs, default=0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def layer_metrics(
    wl, timed_ids: list[int], spans, groups, rss: dict, heap: dict, host: dict
) -> dict[str, float]:
    """Every PER_LAYER metric for one traced run of workload ``wl``."""
    timed = [wl.records[i] for i in timed_ids]
    self_s, incl_s, ctr = per_pass_layers(spans, groups, timed_ids)
    commits = [
        s.end - s.start for s in spans if s.name == "checkpoint.commit" and s.pass_id in timed_ids
    ]
    per_pass_commits = len(commits) / len(timed_ids)
    out = {k: 0.0 for k in PER_LAYER}
    out.update(
        {
            "session.start_s": next(s.end - s.start for s in spans if s.name == "session.start"),
            "extract.edges_s": incl_s.get("extract.edges", 0.0),
            "extract.edge_urls_s": incl_s.get("extract.edge_urls", 0.0),
            "extract.pages": float(getattr(wl, "n_pages", 0)),
            "extract.edges": float(_median(r.get("edges", 0) for r in timed)),
            "algorithms.pagerank.call_s": incl_s.get("algorithms.pagerank", 0.0),
            "algorithms.labelprop.call_s": incl_s.get("algorithms.labelprop", 0.0),
            "algorithms.hits.call_s": incl_s.get("algorithms.hits", 0.0),
            "algorithms.components.call_s": incl_s.get("algorithms.components", 0.0),
            "algorithms.triangles.call_s": incl_s.get("algorithms.triangles", 0.0),
            "checkpoint.commit_s.p50": _median(commits),
            "checkpoint.commit_s.sum": incl_s.get("checkpoint.commit", 0.0),
            "checkpoint.commits": per_pass_commits,
            "checkpoint.amend_s.sum": incl_s.get("checkpoint.amend_metrics", 0.0),
            "checkpoint.latest_s": incl_s.get("checkpoint.latest", 0.0),
            "checkpoint.read_state_s": incl_s.get("checkpoint.read_state", 0.0),
            "process.driver_peak_rss_mb": rss["driver"],
            "process.jvm_peak_rss_mb": rss["jvm"],
            "process.workers_peak_rss_mb": rss["workers"],
            "process.jvm_heap_peak_used_mb": heap["heap"],
            "process.jvm_old_gen_peak_used_mb": heap["old_gen"],
            "host.load1_max": host["load1_max"],
            "host.steal_pct": host["steal_pct"],
            "trace.run_s": _median(r["wall"] for r in timed),
            "trace.self_s": incl_s["pass"] - self_s["pass"],
            "trace.unattributed_s": self_s["pass"],
        }
    )
    if timed and "pr_iter_seconds" in timed[0]:
        calls = [it for r in timed for it in r["pr_iter_seconds"]]
        iters = _median(sum(r["pr_iters"]) for r in timed)
        out["algorithms.pagerank.prepare_s"] = _median(sum(r["pr_prepare_s"]) for r in timed)
        out["algorithms.pagerank.iter_s.first"] = _median(it[0] for it in calls if it)
        out["algorithms.pagerank.iter_s.p50"] = _median(s for it in calls for s in it[2:])
        out["algorithms.pagerank.iters"] = iters
        pr = ctr.get("algorithms.pagerank", SparkCounters())
        out["spark.pagerank.shuffle_bytes_per_iter"] = pr.shuffle_write_bytes / iters if iters else 0.0
    if timed and "hits_iter_seconds" in timed[0]:
        out["algorithms.hits.iter_s.p50"] = _median(s for r in timed for s in r["hits_iter_seconds"][1:])
        out["algorithms.components.rounds"] = _median(r["cc_rounds"] for r in timed)
        out["algorithms.components.endgame_s"] = _median(r["cc_endgame_s"] for r in timed)
        out["algorithms.triangles.triangles"] = float(timed[0]["triangles"])
    for key, span in SPARK_SPANS.items():
        c = ctr.get(span)
        if c is None:
            continue
        for f in SPARK_FIELDS:
            out[f"spark.{key}.{f}"] = float(getattr(c, f))
    ext = ctr.get("extract.edges")
    if ext is not None:
        out["spark.extract.python_bytes_sent"] = float(ext.python_bytes_sent)
        out["spark.extract.python_bytes_received"] = float(ext.python_bytes_received)
    commit = ctr.get("checkpoint.commit")
    if commit is not None and per_pass_commits:
        out["checkpoint.bytes_per_commit"] = commit.output_bytes / per_pass_commits
    return out
