"""G16 — neighborhood function N(t) and HyperBall ball-size estimation
[link-graph analytics (north_rule): the canonical distance-distribution /
effective-diameter analysis of a web graph — Boldi & Vigna, "HyperBall:
Counting at Scale" / "HyperANF", public algorithms].

Two variants, mirroring the d5/d6 exact-baseline-plus-scale-path pattern:

* ``neighborhood_function`` — EXACT N(t) = #ordered pairs (root, v) with a
  directed path of length ≤ t, computed by iterated frontier expansion
  over a (root, id) reach table. Integer set ops only — exactly
  deterministic, full DuckDB oracle (unrolled UNION/DISTINCT rounds).
  Quadratic in ball size, so it is the small-scale CORRECTNESS baseline —
  the same role d5's brute-force cosine top-k plays for ANN.

* ``hyperball`` — the scale path: one HyperLogLog counter (m integer
  registers) per vertex; per round every vertex elementwise-MAXes its
  out-neighbors' registers into its own (union of balls ≡ max of
  registers), so per-vertex ball sizes for ALL vertices cost one
  E-shuffle per round regardless of ball volume — this is what survives
  10^12 edges. Registers derive from the md5-60 hash split (bucket =
  low log2(m) bits, rho = leading-zero rank of the remaining 56-bit
  field), so the full register STATE is an exactly deterministic integer
  function of the vertex ids — pytest replays it bit-for-bit against a
  pure-python HLL simulation, and the harmonic-mean estimates carry an
  accuracy contract vs the exact operator on the fixture.

Scale plan for the register merge: (id, regs) is posexploded to
(id, pos, r) rows and aggregated in TWO exchanges per round: (1) a
groupBy (id, pos) MAX whose map-side partial combine collapses every
map partition's messages to ≤ m rows per vertex BEFORE the shuffle —
this is what keeps a degree-10^6 hub from pushing deg×m rows through
the wire — then (2) a groupBy (id) pos-sorted reassembly of the m
surviving skinny rows per vertex. (The tempting one-exchange variant —
collect_list of whole register arrays reduced with zip_with/greatest —
has NO map-side reduction, so a hub vertex ships deg×m values; two
combines beat one shuffle at web scale.) No Python in the loop; iteration
control (resume, commit, the observed register sum) is the kernel's
(iterate.py).
"""

from __future__ import annotations

import math
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scalemine_spark.checkpoint import CheckpointManager
from scalemine_spark.graph import vertex_ids
from scalemine_spark.iterate import iterate, materialize, resume
from scalemine_spark.tuning import adaptive_partitions


def neighborhood_function(
    edges: DataFrame,
    max_t: int = 3,
) -> tuple[DataFrame, dict]:
    """Exact neighborhood function: DataFrame (t, n_pairs) for t = 0..max_t,
    n_pairs = #(root, v) ordered pairs with directed dist(root, v) ≤ t
    (self-pairs included — N(0) = |V|). Early-stops when a round adds no
    pair (N(t) saturated).

    Exactness: reach-set growth is join/distinct/anti-join on BIGINT pairs
    — no floats anywhere; replay-identical under any partitioning. Each t
    is one kernel iteration (iterate.py); t = 0 materializes the self-pairs.
    """
    spark = edges.sparkSession
    # scale-adaptive loop width (round 6, guide §2; tuning.py docstring)
    p = adaptive_partitions(edges)
    e = (
        edges.select("src", "dst")
        .repartition(p, "src")
        .sortWithinPartitions("src")
        .persist()
    )
    verts = vertex_ids(e).repartition(p, "id").persist()

    def step(reach, t, prev):
        if reach is None:  # t = 0: the self-pairs, N(0) = |V|
            return verts.select(F.col("id").alias("root"), "id"), {"n": F.count(F.lit(1))}
        grown = (
            reach.withColumnRenamed("id", "src")
            .join(e, "src")
            .select("root", F.col("dst").alias("id"))
            .distinct()
            .join(reach, ["root", "id"], "left_anti")
        )
        return reach.union(grown.select("root", "id")), {"n": F.count(F.lit(1))}

    t0 = time.monotonic()
    loop = iterate(
        step,
        None,
        0,
        max_t + 1,
        name="nf",
        until=lambda s, prev: prev is not None and s["n"] == prev["n"],
    )
    counts = [s["n"] for s in loop.scalars]
    counts.extend(counts[-1:] * (max_t + 1 - len(counts)))  # saturated: N(t) is flat
    out = spark.createDataFrame(
        [(t, c) for t, c in enumerate(counts)], "t long, n_pairs long"
    )
    info = {"seconds": time.monotonic() - t0, "counts": counts}
    e.unpersist()
    verts.unpersist()
    return out, info


# --- HyperBall -------------------------------------------------------------

_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _init_registers(verts: DataFrame, m: int) -> DataFrame:
    """(id, regs array<int>): one HLL counter per vertex seeded with the
    vertex's own hash. bucket = md5_60(id) % m; rho = 1 + leading zeros of
    the remaining 56-bit field (md5_60(id) div m for power-of-two m)."""
    from scalemine_spark.operators.dedup import md5_60

    b = int(math.log2(m))
    assert 2**b == m, "m must be a power of two"
    w = 60 - b  # width of the rho field
    h = md5_60(F.col("id").cast("string"))
    bucket = F.pmod(h, F.lit(m)).cast("int")
    rest = F.expr(f"_h div {m}")
    # bit_length via bin(): Spark's bin() renders the minimal binary string
    rho = F.when(rest > 0, F.lit(w + 1) - F.length(F.bin(rest))).otherwise(
        F.lit(w + 1)
    )
    return (
        verts.withColumn("_h", h)
        .withColumn("_b", bucket)
        .withColumn("_r", rho.cast("int"))
        .select(
            "id",
            F.expr(
                f"transform(sequence(0, {m - 1}), j -> CASE WHEN j = _b THEN _r ELSE 0 END)"
            ).alias("regs"),
        )
    )


def _merge_registers(state: DataFrame, msgs: DataFrame) -> DataFrame:
    """Elementwise-max merge of register arrays grouped by id: posexplode ->
    groupBy (id, pos) MAX (exchange 1 — map-side partial combine bounds a
    hub's shuffle payload at m rows per map partition) -> groupBy (id)
    pos-sorted reassembly (exchange 2 — m skinny rows per vertex, i.e. the
    state size itself). The output inherits exchange 2's hash(id)
    partitioning, so no extra repartition is needed downstream."""
    exploded = (
        state.unionByName(msgs)
        .select("id", F.posexplode("regs").alias("pos", "r"))
        .groupBy("id", "pos")
        .agg(F.max("r").alias("r"))
    )
    return exploded.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "r"))), lambda s: s.r
        ).alias("regs")
    )


def _estimate(m: int) -> F.Column:
    """Standard HLL estimate from integer registers, with the small-range
    linear-counting correction. Deterministic given the integer regs."""
    alpha = _ALPHA.get(m, 0.7213 / (1 + 1.079 / m))
    raw = F.lit(alpha * m * m) / F.aggregate(
        "regs", F.lit(0.0), lambda acc, r: acc + F.pow(F.lit(2.0), -r.cast("double"))
    )
    zeros = F.size(F.filter("regs", lambda r: r == 0))
    return F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)


def hyperball(
    edges: DataFrame,
    max_t: int = 3,
    m: int = 16,
    checkpointer: CheckpointManager | None = None,
) -> tuple[DataFrame, dict]:
    """HyperBall: per-vertex out-ball-size HLL estimates after max_t rounds.

    Returns (DataFrame (id, regs array<int>, ball_est double), info) with
    info["sum_regs"][t] = SUM of all registers after round t — an integer
    invariant used by tests to pin the state exactly. The register state
    is a deterministic pure function of (vertex ids, m, max_t); only
    ball_est involves floats, and it is a per-row function of the regs.

    Resume: the committed per-round state is the (id, regs) table.
    """
    spark = edges.sparkSession
    # scale-adaptive loop width (round 6, guide §2; tuning.py docstring)
    p = adaptive_partitions(edges)
    e = (
        edges.select("src", "dst")
        .repartition(p, "dst")
        .sortWithinPartitions("dst")
        .persist()
    )
    verts = vertex_ids(e).repartition(p, "id").persist()

    state, _, start = resume(checkpointer, spark, max_t + 1)
    if state is not None:
        # resuming with a different m would silently apply _estimate(m)
        # to wrong-width registers (round-5 advisory): validate the
        # checkpointed register width before trusting the state
        probe = state.select(F.size("regs").alias("w")).first()
        if probe is not None and int(probe["w"]) != m:
            raise ValueError(
                f"hyperball resume: checkpointed register width "
                f"{int(probe['w'])} != requested m={m} — rerun with the "
                "original m or start a fresh checkpoint directory"
            )
    else:
        state = materialize(_init_registers(verts, m), 0, checkpointer, {"round": 0.0})
        start = 1

    def step(state, it, prev):
        # out-ball: v absorbs the counters of its out-neighbors w (v -> w)
        msgs = (
            e.join(state.withColumnRenamed("id", "dst"), "dst")
            .select(F.col("src").alias("id"), "regs")
        )
        merged = _merge_registers(state, msgs)
        return merged, {"s": F.sum(F.aggregate("regs", F.lit(0), lambda a, r: a + r))}

    t0 = time.monotonic()
    loop = iterate(
        step,
        state,
        start,
        max_t + 1,
        name="hb",
        checkpointer=checkpointer,
        record=lambda s: {"sum_regs": s["s"]},
    )
    out = loop.state.select("id", "regs", _estimate(m).alias("ball_est"))
    info = {
        "rounds": max_t,
        "sum_regs": [s["s"] for s in loop.scalars],
        "seconds": time.monotonic() - t0,
        "m": m,
    }
    e.unpersist()
    verts.unpersist()
    return out, info
