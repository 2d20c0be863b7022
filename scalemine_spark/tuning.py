"""Scale-adaptive parallelism helpers for the iterative algorithms.

Guide §2 rule: partition counts must be derived from the data, not pinned
to a constant tuned for either local mode or one cluster size. The
iterative loops (G1/G3/G6/...) historically ran every exchange at the
session ``spark.sql.shuffle.partitions`` (2x cores locally) even when the
working set is a few hundred thousand rows — at bench scale that is
64 near-empty tasks per stage, 3+ stages per iteration, and the fixed
task-launch cost dominates the iteration (measured round 6: PageRank
steady-state iteration 0.92s at p=64 vs 0.67s at p=32 on the 2M-edge
fixture, OPTIMIZATION_r06.md).

``adaptive_partitions`` derives the loop parallelism from the *input's*
optimizer size estimate (exact for materialized caches, file-size-based
for parquet scans — no extra Spark job), clamped to
[defaultParallelism, session shuffle partitions]:

  * at 100 TB the estimate saturates the clamp and the loops run at the
    session width exactly as before — the derivation can only NARROW
    small workloads, never starve big ones;
  * locally it lands at defaultParallelism (= the core count), which
    keeps every core busy while halving the per-stage task count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# ~256k of the 16-byte edge/state rows per task (estimator bytes; cached
# relations estimate ~16 B/row). Calibrated from BOTH ends (round 6):
# at 2M edges the derivation must land at defaultParallelism (0.92 ->
# 0.67 s/iter measured, OPTIMIZATION_r06.md), and by ~16M edges it
# should be back at the session width — the 16M-edge holdout
# (order-swapped pairs to cancel first-position warm-up bias,
# BENCH/ab_scale_r6_4mb.json) measured parity with the pinned session
# width there; `tools/ab.py --holdout` re-runs that graph.
# Conservative by design: the narrow window only covers scales where the
# per-task fixed cost demonstrably dominates. Misestimation moves the
# clamp, never correctness.
TARGET_BYTES_PER_PARTITION = 4 << 20


def adaptive_partitions(df: DataFrame) -> int:
    """Loop parallelism for an iterative algorithm over ``df``.

    clamp(ceil(sizeInBytes / TARGET_BYTES_PER_PARTITION),
          defaultParallelism, session shuffle partitions) — see module
    docstring. Falls back to the session width if the estimate is
    unavailable."""
    spark = df.sparkSession
    session_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    dp = max(1, spark.sparkContext.defaultParallelism)
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # estimator unavailable -> keep the session width
        return session_p
    if size <= 0 or size >= (1 << 62):  # unknown/defaulted estimate
        return session_p
    want = -(-size // TARGET_BYTES_PER_PARTITION)
    return int(min(session_p, max(dp, want)))

