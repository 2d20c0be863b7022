"""G2 — connected components: large-star / small-star hash-to-min
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14)
[BASELINE.json:6,14].

State is a set of directed pointer edges (u, v) with v < u ("point to the
smaller id"). Each round:

  large-star(E): over the symmetrized neighborhood Γ(u), with
      m(u) = min(Γ(u) ∪ {u}),
    emit (v, m(u)) for every neighbor v > u.
  small-star(E): over pointer edges only (v ≤ u), with m(u) = min(N≤(u) ∪ {u}),
    emit (v, m(u)) for v ∈ N≤(u) ∪ {u}, v ≠ m(u).

Converges in O(log n) rounds to a star forest (child -> component-min root).
Convergence test: the edge-set fingerprint (c = count, h = xor of
xxhash64(u,v)) is stable across a round — two scalars observed on the
round's one materializing job instead of a set-difference shuffle.
Iteration control — resume, the per-round commit (manifest metrics c, h,
iter_seconds), lineage truncation and the stop test — is the kernel's
(iterate.py).

Exchange budget (round 3 restructure; 16M/local[8]: 72.6s -> measured in
BENCH). Because the pointer set is canonical (u > v strictly, all rounds),
large-star never needs the 2E symmetrized relation the round-2 code built:

  per canonical edge (a, b) with a > b, large-star's emit rule
  "for v in Γ(u), v > u: emit (v, m(u))" fires exactly once — from the
  smaller endpoint b toward a — so large-star IS the per-edge join
  ``e ⋈ mins ON e.v = mins.u`` emitting (e.u, m), where
  m(x) = min(Γ(x) ∪ {x}) = least(x, min over x's smaller nbrs, min over
  x's larger nbrs) comes from TWO V-sized partial aggregates (groupBy(u)
  and groupBy(v) of e) merged by a co-partitioned full-outer join.

Full-E exchanges per round: the large-star probe (E rows hashed on v), the
small-star probe (E rows hashed on u), and the closing distinct (E rows on
(u,v); kept — the fingerprint convergence test needs set semantics and it
bounds duplicate growth). The two degree-style aggregates shuffle only
~V rows each thanks to map-side partial min. Raw canonicalized edges
(duplicates and all) feed round 0 directly: the min-aggregates absorb
duplicate rows and the end-of-round distinct restores set semantics, so
no init distinct or init fingerprint pass runs — the first comparable
fingerprint pair is (round 0, round 1).

Skew: all aggregates are min() with map-side partial aggregation, so hot
vertices cost one partial row per map task; the join fan-outs emit exactly
one row per input edge (never quadratic).

Tail-round coalescing: after round 1 the pointer set collapses to ~V rows,
but a fixed ``spark.sql.shuffle.partitions`` makes every tail round pay
2x-cores tasks of near-empty data (pure scheduling overhead; per-pair tail
efficiency 0.53-0.76 in round 3's protocol). Each round therefore
re-derives its shuffle parallelism from the PREVIOUS round's observed row
count (free — it rides the convergence Observation):
``p_round = clamp(ceil(rows / 128k), defaultParallelism, p0)``, applied by
setting ``spark.sql.shuffle.partitions`` for the round's plan on the loop's
own child session (iterate.loop_session), never on the caller's: a query
planned concurrently on the caller's session keeps its width. With AQE
on, coalescePartitions does this at runtime already; the protocol (and
many production iterative jobs) runs AQE off, where this is the only
mechanism. The per-round width stays because both alternatives measured
slower on perfbench's 117k-edge graph (4 cores, AQE on, 10 interleaved
pairs): the session width with AQE coalescing +12 % per call,
``repartition(p_round, "v")`` +10 %.

Driver-side union-find ENDGAME (round 5): the collapsed tail is
ELIMINATED rather than amortized. Once a round's Observation reports the
pointer set below ``endgame_rows`` (default 8M rows = ~128 MB of (long,
long) — far inside the protocol's 8g driver), the loop stops shuffling: the
pointer set is collected through Arrow, min-label propagation runs as
vectorized numpy (edge relaxation with ``np.minimum.at`` + pointer-jumping
full path compression per pass — each pass is O(E) gathers, passes are
O(log diameter), and after one or two distributed star rounds the forest
is already shallow), and the exact final star forest (u -> min id of
component, the unique fixed point the distributed loop would have reached)
is parallelized back and committed with an ``endgame`` marker. This is the
standard hybrid endgame of scale-aware iterative systems (e.g. Spark's own
treeAggregate-style driver-side finishes): the collapsed tail is SMALL
DATA, and the fixed per-round cost of distributed execution (plan +
Observation + checkpoint + distinct, measured ~19s @ local[8] per tail
round at 60M) cannot beat a ~2-4s single-pass local solve no matter how it
is batched. Scaling consequence, measured at 60M (BENCH/BASELINE.md): the
tail phase — whose per-pair 2->8 efficiency was 0.42-0.76, the binding
drag on CC's total — becomes a parallelism-independent constant, so CC
total efficiency tracks the well-scaling round-0 exchange phase. The
threshold guards cluster scale: with V >> endgame_rows (say 10^10
vertices) the endgame never fires and the distributed tail runs exactly as
before; raise ``endgame_rows`` with driver memory, set 0 to disable.

Shuffle codec: CC's round-0 exchange phase is bandwidth-bound, and zstd
shuffle compression measured **-23% round-0 wall** at 60M/local[8] (commit
0f838f4), while PageRank is ~9% SLOWER under zstd — the right codec is
per-job. But ``spark.io.compression.codec`` is JVM-static: SerializerManager
instantiates its codec once (lazy val) from the SparkConf captured at
SparkEnv creation, and Spark refuses runtime mutation outright (verified
in-sandbox on 4.1.2: ``spark.conf.set("spark.io.compression.codec", ...)``
raises AnalysisException CANNOT_MODIFY_CONFIG), so it CANNOT be flipped per
job inside a shared application.
Deployment guidance: submit exchange-heavy CC jobs as their own application
with ``spark.io.compression.codec=zstd`` (tools/scaling_bench.py does
exactly this for the protocol's CC runs — each measurement is a cold JVM).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scalemine_spark.checkpoint import CheckpointManager
from scalemine_spark.graph import vertex_ids
from scalemine_spark.iterate import iterate, loop_session, resume
from scalemine_spark.tuning import adaptive_partitions


def _unionfind_numpy(u, v):
    """Vectorized min-label connected components over an edge list of int64
    arrays. Returns (ids, parent): sorted unique vertex ids and, per index,
    the index of the component's min id (self for roots).

    Each pass: hook (scatter-min of each edge's min endpoint label to both
    endpoints, ``np.minimum.at``), pointer-jump to full path compression,
    then CONTRACT — relabel edges to their current roots and drop the
    (now self-loop) edges inside an already-merged star. Contraction is
    what makes this O(E) total instead of O(E log V): labels per component
    at least halve per pass (every surviving label adopts a smaller
    neighbor label), so the surviving edge list shrinks geometrically and
    the slow scatter primitive (~150 ns/row) runs over a vanishing tail.
    The round-5 profile that motivated this: on the 60M-edge protocol
    graph (one giant component, 6M pointer rows) the un-contracted version
    re-scanned all 6M edges for all ~21 passes — 113 s inside the endgame;
    contraction solves the identical input in ~2 s (commit 884911b;
    BENCH/scaling_cc.md has the 60M-edge runs after it). Tolerates
    duplicate edges and self-loops; correctness: labels only decrease,
    never below the component min id, and the min id keeps its own label,
    so termination (no cross-label edges left) leaves every vertex exactly
    at its component's min id."""
    import numpy as np

    # one argsort-based pass gives BOTH the sorted unique id table and the
    # per-row dense indices; the earlier two searchsorted() calls were the
    # profile's hot spot (binary search = ~23 dependent cache misses per
    # row, ~10s at 6M rows vs ~2.5s for unique+inverse)
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    # index arrays in int32: the endgame only ever sees < endgame_rows
    # (default 8M) vertices, far under 2^31, and halving the per-row width
    # halves the cache footprint of the random gathers (ids themselves stay
    # int64 — they are arbitrary 64-bit vertex ids, e.g. X4's xxhash-based)
    idx_dt = np.int32 if len(ids) <= np.iinfo(np.int32).max else np.int64
    inv = inv.astype(idx_dt, copy=False)
    iu = inv[: len(u)]
    iv = inv[len(u):]
    parent = np.arange(len(ids), dtype=idx_dt)
    while iu.size:
        # hook: both directions (ids sorted: min index == min id)
        m = np.minimum(parent[iu], parent[iv])
        np.minimum.at(parent, iu, m)
        np.minimum.at(parent, iv, m)
        # pointer jumping to full path compression
        while True:
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp
        # contract: only edges still crossing two live roots matter
        iu = parent[iu]
        iv = parent[iv]
        keep = iu != iv
        iu = iu[keep]
        iv = iv[keep]
    return ids, parent


def _endgame_star_forest(e: DataFrame) -> tuple[DataFrame, int]:
    """Driver-side union-find endgame (module docstring): collect the
    collapsed pointer set through Arrow, solve min-label connected
    components in vectorized numpy (:func:`_unionfind_numpy`), return the
    exact final star forest (u -> min id of u's component, one row per
    non-root vertex) as a distributed DataFrame again. Caller guards the
    collect with ``endgame_rows``.

    Arrow-native BOTH directions — ``toArrow()`` in, a ``pyarrow.Table``
    into ``createDataFrame`` out. The pandas detour was the dominant cost:
    at 6M rows ``toPandas()`` measured 9-13s PER CALL (recurring
    Arrow->pandas block conversion, not page faults) where ``toArrow()``
    measures 0.32s."""
    import numpy as np
    import pyarrow as pa

    spark = e.sparkSession
    tbl = e.toArrow()
    u = tbl.column("u").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    v = tbl.column("v").to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    ids, parent = _unionfind_numpy(u, v)
    mask = parent != np.arange(len(ids), dtype=parent.dtype)
    out = pa.table({"u": pa.array(ids[mask]), "v": pa.array(ids[parent[mask]])})
    return spark.createDataFrame(out), out.num_rows


def _cc_round(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One large-star + small-star round (module docstring has the exchange
    accounting). Returns (round output, large-star cache handle) — the
    caller unpersists the handle once the round's action has run. Requires
    pointer shape u > v strictly, which every producer guarantees (init
    canonicalization filters self-loops; both stars emit (bigger, smaller)
    pairs and drop u == v). Tolerates duplicate rows in `e` — min-aggregates
    absorb them, the closing distinct restores set semantics — which is what
    lets round 0 skip the init distinct. Shuffle parallelism comes from the
    session's shuffle-partitions conf, which connected_components sets per
    round on its own child session (tail-round coalescing — module docstring).
    """
    # ---- large-star: m(x) from two V-sized partial aggregates ---------
    a_out = e.groupBy("u").agg(F.min("v").alias("mo"))
    a_in = e.groupBy("v").agg(F.min("u").alias("mi")).select(F.col("v").alias("u"), "mi")
    # least() skips nulls, so vertices seen on only one side still resolve
    mins = a_out.join(a_in, "u", "full").select(
        "u", F.least("u", "mo", "mi").alias("m")
    )
    # per-edge emit: (e.u, m(e.v)) — e.u > e.v >= m(e.v), pointer shape kept
    ls = e.join(mins.select(F.col("u").alias("v"), "m"), "v").select(
        "u", F.col("m").alias("v")
    )
    # materialize: consumed twice below (agg + probe). Columnar persist()
    # beats localCheckpoint(eager) here — the SQL cache stores compressed
    # column batches (vs the row-object RDD cache whose JVM overhead caused
    # GC-bound 1.6x-variance rounds at 60M), block locks compute each cached
    # partition exactly once even with two consumers in one job, and no
    # extra eager job runs per round (A/B at 60M/local[8]: 102s stable vs
    # 113-180s — BENCH/BASELINE.md). Lineage truncation still happens at the
    # round output (the kernel's commit or localCheckpoint).
    ls = ls.persist()
    # ---- small-star over the pointer set ------------------------------
    mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = ls.join(mins2, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    selfp = mins2.select("u", F.col("m").alias("v"))
    # final exchange — distinct on (u, v)
    out = nbrs.union(selfp).filter(F.col("u") != F.col("v")).distinct()
    return out, ls


def connected_components(
    edges: DataFrame,
    max_rounds: int = 50,
    checkpointer: CheckpointManager | None = None,
    endgame_rows: int = 1 << 23,
) -> tuple[DataFrame, dict]:
    """Returns (components DF (id, comp) with comp = min id of the component,
    info dict). Includes isolated endpoints of self-loops.

    endgame_rows: pointer-set size below which the remaining rounds are
    replaced by the driver-side union-find endgame (module docstring); 0
    disables. Size it to driver memory: rows * 16 bytes must fit
    comfortably (default 8M rows = ~128 MB)."""
    # scale-adaptive round-0 width and tail-coalescing cap (round 6, guide
    # §2; tuning.py docstring): the tail rounds already re-derived their
    # width from observed rows, this extends the same idea to round 0 via
    # the input size estimate
    p = adaptive_partitions(edges)
    # the rounds set their width on the loop's own session, under the
    # caller's AQE (iterate.loop_session): no other query sees it
    with loop_session(edges) as (edges, back):
        spark = edges.sparkSession

        # verts feeds ONLY the final comps join (unlike the per-iteration
        # algorithms, nothing here needs a specific alignment width), so the
        # post-distinct repartition was a pure extra V-sized exchange — the
        # distinct's own hash(id) output partitioning serves the join as-is
        # (round 6, guide §2.4)
        verts = vertex_ids(edges).persist()

        # canonicalized raw pairs, duplicates and all — round 0 absorbs them
        # (no init distinct, no init fingerprint: both were full-E passes)
        e = edges.filter(F.col("src") != F.col("dst")).select(
            F.greatest("src", "dst").alias("u"),
            F.least("src", "dst").alias("v"),
        )

        # a resumed set's fingerprint seeds the convergence test, the tail width
        # and the endgame test (committed state is deduped -> comparable). It is
        # read from the manifest, not recomputed: c is the committed row count,
        # h the round's observed hash, kept exact as a JSON int. The endgame's
        # commit (and a round whose metrics amend never landed) has no h; the
        # first resumed round then cannot compare equal, which costs at most
        # one more round.
        state, manifest, start = resume(checkpointer, spark, max_rounds)
        fp = None
        if state is not None:
            e = state
            fp = {"c": manifest["row_count"], "h": manifest["metrics"].get("h")}

        def small(s):
            # the pointer set was OBSERVED small (a round's Observation or the
            # resume fingerprint; the set is canonical u > v): solve locally
            return s is not None and 0 < s["c"] < endgame_rows

        t0 = time.monotonic()
        # tail-round coalescing (module docstring): round 0 runs at p, each later
        # round at the previous round's observed pointer count / 128k, clamped to
        # [defaultParallelism, p], set on the loop's own session
        rows_per_partition = 1 << 17
        dp = max(1, spark.sparkContext.defaultParallelism)
        ls_caches: list[DataFrame] = []  # the live large-star cache

        def step(e, it, prev):
            p_round = p if prev is None else min(p, max(dp, -(-prev["c"] // rows_per_partition)))
            spark.conf.set("spark.sql.shuffle.partitions", str(p_round))
            # the previous round's cache served its job and is no longer read
            if ls_caches:
                ls_caches.pop().unpersist()
            out, ls = _cc_round(e)
            ls_caches.append(ls)
            # the convergence fingerprint rides the materializing action
            return out, {"c": F.count(F.lit(1)), "h": F.bit_xor(F.xxhash64("u", "v"))}

        try:
            loop = iterate(
                step,
                e,
                start,
                # a small resumed set goes straight to the endgame
                start if small(fp) else max_rounds,
                name="cc_fp",
                checkpointer=checkpointer,
                scalars=fp,
                until=lambda s, prev: s == prev or small(s),
            )
        finally:
            for ls in ls_caches:
                ls.unpersist()
        e = loop.state
        fps = ([fp] if fp is not None else []) + loop.scalars
        converged = len(fps) >= 2 and fps[-1] == fps[-2]
        last = fps[-1] if fps else None
        rounds = start + len(loop.scalars)
        n_pointer_edges = last["c"] if last else 0
        round_secs = list(loop.iter_seconds)

        # driver-side union-find endgame (module docstring): stop shuffling,
        # solve locally, commit the exact final star forest
        endgame_secs: float | None = None
        if not converged and rounds < max_rounds and small(last):
            t_r = time.monotonic()
            e, n_pointer_edges = _endgame_star_forest(e)
            if checkpointer is not None:
                e = checkpointer.commit(
                    rounds, e, {"iter_seconds": time.monotonic() - t_r, "endgame": True}
                )
                checkpointer.flush()
            endgame_secs = time.monotonic() - t_r
            round_secs.append(endgame_secs)
            rounds += 1
            converged = True

        comps = (
            verts.join(e.select(F.col("u").alias("id"), F.col("v").alias("root")), "id", "left")
            .select("id", F.coalesce("root", "id").alias("comp"))
        )
        info = {
            "rounds": rounds,
            "converged": converged,
            "seconds": time.monotonic() - t0,
            "round_seconds": round_secs,
            "n_pointer_edges": n_pointer_edges,
            "endgame_seconds": endgame_secs,  # None = endgame never fired
        }
        verts.unpersist()
        return back(comps), info
