#!/usr/bin/env python3
"""Record the small Spark event log that perfbench/test_tracing.py reads.

    python3 perfbench/testdata/record_eventlog.py

Runs two tiny actions in two job groups on a local[2] session with the
event log on, and keeps only the events and fields the reducer reads, so
the file stays small and holds no host-specific properties.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
JOB_GROUP = "spark.jobGroup.id"


def _slim(ev: dict) -> dict | None:
    kind = ev.get("Event")
    props = {k: v for k, v in (ev.get("Properties") or {}).items() if k == JOB_GROUP}
    if kind == "SparkListenerJobStart":
        return {"Event": kind, "Job ID": ev["Job ID"], "Stage IDs": ev["Stage IDs"], "Properties": props}
    if kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
        si = {k: ev["Stage Info"][k] for k in ("Stage ID", "Stage Attempt ID", "Number of Tasks")}
        return {"Event": kind, "Stage Info": si, "Properties": props}
    if kind == "SparkListenerTaskEnd":
        acc = [
            {k: a.get(k) for k in ("ID", "Name", "Update")}
            for a in ev["Task Info"].get("Accumulables", [])
            if a.get("Name") and not a["Name"].startswith("internal.")
        ]
        return {
            "Event": kind,
            "Stage ID": ev["Stage ID"],
            "Stage Attempt ID": ev["Stage Attempt ID"],
            "Task Info": {"Accumulables": acc},
            "Task Metrics": ev["Task Metrics"],
        }
    return None


def main() -> None:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT
    from pyspark.sql import functions as F

    from scalemine_spark.session import get_spark

    events = tempfile.mkdtemp(dir=os.path.join(ROOT, ".perfbench_work"))
    spark = get_spark(
        "record-eventlog",
        cores=2,
        shuffle_partitions=2,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    sc = spark.sparkContext
    df = spark.range(0, 2000).select((F.col("id") % 97).alias("k"), F.col("id").alias("v"))
    sc.setLocalProperty("spark.jobGroup.id", "udf")
    df.mapInPandas(lambda it: (p.assign(v=p.v * 2) for p in it), df.schema).count()
    sc.setLocalProperty("spark.jobGroup.id", "agg")
    df.groupBy("k").agg(F.sum("v")).collect()
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.stop()
    (log,) = os.listdir(events)
    with open(os.path.join(events, log)) as src, open(os.path.join(HERE, "eventlog_small.jsonl"), "w") as dst:
        for line in src:
            ev = _slim(json.loads(line))
            if ev is not None:
                dst.write(json.dumps(ev) + "\n")
    shutil.rmtree(events)


if __name__ == "__main__":
    main()
