#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {ingest,iterate,durable} \\
        [--seed 42] [--seconds 6] [--trace 0|1]

Run from the repository root. Inputs are generated from ``--seed`` (cached
per seed under ``.perfbench_work/``), the workload is set up, warmed up
and then timed pass after pass until ``--seconds`` have elapsed (at least
one pass). The last line of stdout is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``, where the metrics are the
end-to-end ones with ``--trace 0`` and the per-layer ledger with
``--trace 1``. The line before it is a ``diag`` object with every pass's
wall time, the set-up breakdown, host load and CPU steal.

Everything the run writes stays under ``.perfbench_work/`` in the checkout:
inputs, Spark's local and temp dirs, checkpoints and the event log.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "iterate", "durable"))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _pin_environment(run_dir: str) -> dict[str, str]:
    """Keep every file Spark and Python write under ``run_dir`` and make the
    checkout importable from the Python workers. Returns the Spark conf that
    does the JVM's share."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_LOCAL_DIRS_OVERRIDE"] = local
    # a fixed, pre-touched 2 GB heap (ample at this scale) makes peak
    # memory repeatable: with the engine's 8g default, or a 2g cap alone,
    # G1 sizes the heap by timing, and one workload's peak varied by 30 to
    # 40 % from run to run.
    # The price: peak_rss_mb cannot see heap use below 2 GB, which the
    # traced run reports from the JVM's memory-pool beans instead.
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # the JVM that assembles the spark-submit command line runs before any conf applies
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -XX:+AlwaysPreTouch"
    return {"spark.driver.extraJavaOptions": jvm_opts}


def _stop(spark) -> None:
    """Stop the session, then the JVM and the Python workers it started,
    and wait until each has exited. ``spark.stop()`` alone leaves the JVM
    running until this process exits; it quits when its stdin closes."""
    from pyspark import SparkContext

    from perfbench import host

    children = host.descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    host.wait_exited(children, timeout=60)


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import scalemine_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the scalemine_spark package is not in {ROOT}: {exc}", file=sys.stderr)
        return 2

    from perfbench import host, inputs
    from perfbench.ledger import END_TO_END, PER_LAYER, layer_metrics
    from perfbench.tracing import Tracer, reduce_event_log
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    conf = _pin_environment(run_dir)
    event_dir = os.path.join(run_dir, "events")
    if args.trace:
        os.makedirs(event_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )

    spark = None
    try:
        t = time.monotonic()
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "inputs.py"), work, str(args.seed)],
            check=True,
        )
        data = inputs.load(work, args.seed)
        gen_s = time.monotonic() - t

        cpu0 = host.cpu_times()
        loads = [host.load1()]
        tracer = Tracer(bool(args.trace))
        from scalemine_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        with tracer.span("session.start"):
            t = time.monotonic()
            spark = get_spark(f"perfbench-{args.workload}", cores=cores, extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.monotonic() - t
        tracer.attach(spark.sparkContext)

        wl = WORKLOADS[args.workload](spark, data, tracer, run_dir)
        t = time.monotonic()
        wl.setup()
        load_s = time.monotonic() - t
        warmup = wl.warmup_passes

        pid, timed_ids = 0, []
        t_first = None
        while True:
            if pid == warmup:
                t_first = time.monotonic()
                setup_s = t_first - T_PROCESS - gen_s
            elif pid > warmup and time.monotonic() - t_first >= args.seconds:
                break
            wl.before_pass()
            loads.append(host.load1())
            wl.records.append(wl.run_pass(pid))
            if pid >= warmup:
                timed_ids.append(pid)
            pid += 1
        loads.append(host.load1())
        rss = host.peak_rss_mb()
        heap = host.jvm_heap_peak_mb(spark)
        steal = host.steal_pct(cpu0, host.cpu_times())
        _stop(spark)
        spark = None

        timed = [wl.records[i] for i in timed_ids]
        diag = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": cores,
            "gen_s": gen_s,
            "session_s": session_s,
            "load_s": load_s,
            "warmup_passes": warmup,
            "pass_wall_s": [r["wall"] for r in wl.records],
            "load1": loads,
            "steal_pct": steal,
            "rss_mb": rss,
            "jvm_heap_peak_mb": heap,
            "failures": wl.failures[:20],
        }
        if args.trace:
            (log,) = os.listdir(event_dir)
            with open(os.path.join(event_dir, log)) as fh:
                groups = reduce_event_log(fh)
            host_diag = {"load1_max": max(loads), "steal_pct": steal}
            metrics = layer_metrics(wl, timed_ids, tracer.spans, groups, rss, heap, host_diag)
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": setup_s,
                "run_s": statistics.median(r["wall"] for r in timed),
                "peak_rss_mb": sum(rss.values()),
                **wl.end_to_end(timed),
            }
            units = END_TO_END
        print(json.dumps({"diag": diag}))
        print(
            json.dumps(
                {
                    "correct": wl.failed == 0,
                    "attempted": wl.attempted,
                    "failed": wl.failed,
                    "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
