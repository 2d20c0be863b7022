"""Custom join strategies Spark lacks natively (SURVEY §2 J3, J9).

Both are compositions of built-in DataFrame ops — no RDDs, no Python rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _tag_left(left: DataFrame, spill_dir: str | None) -> DataFrame:
    """Tag each left row with a unique __lid and MATERIALIZE the tagged
    frame before its plan branches (monotonically_increasing_id is
    nondeterministic under shuffle-fetch reordering / AQE replans / task
    retries — the round-3 determinism fix). Default materialization is
    localCheckpoint (executor-memory-resident: cheap, but at 100x left-side
    scale it pins the whole tagged frame in executor memory); pass
    ``spill_dir`` to materialize durably through parquet instead — the
    spill costs one write+read of the left side and frees executors, the
    right trade when the probe side itself is huge."""
    tagged = left.withColumn("__lid", F.monotonically_increasing_id())
    if spill_dir is None:
        return tagged.localCheckpoint(eager=True)
    tagged.write.mode("overwrite").parquet(spill_dir)
    return left.sparkSession.read.parquet(spill_dir)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """J3 — skew-salted equi join, semantically identical to
    ``big.join(small, key, how)`` for inner/left joins.

    The big side gets a deterministic per-row salt (hash of all columns is
    overkill; a hash of the key plus a row-local component spreads a hot key
    across ``n_salts`` reducers). The small side is replicated n_salts times
    via ``explode(sequence(...))`` so every (key, salt) bucket finds its
    match. This is the manual analog of AQE skew-join splitting and of
    ScaleMine's cost-based task splitting (SC'16): one oversized unit of work
    becomes n smaller schedulable ones.

    At 10^12-edge scale the salt must NOT depend on the key alone (that would
    keep the hot key in one reducer): we use a uniform pseudo-random draw
    from the row's full tuple via xxhash64(*). Known limit: fully DUPLICATE
    rows of a hot key hash identically and share one salt bucket. rand(seed)
    would spread them but is rejected deliberately — rand's output depends
    on intra-partition row order, which shuffle-fetch reordering and map-task
    retries do not preserve, so a retried map task could re-salt rows into
    different reducers mid-shuffle (lost/duplicated rows at cluster scale).
    Deduplicate upstream instead (every edge-table producer here does).
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts)).cast("int")
    big_s = big.withColumn("__salt", salt)
    small_s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("int"))
    out = big_s.join(small_s, [key, "__salt"], how)
    return out.drop("__salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
    spill_dir: str | None = None,
) -> DataFrame:
    """J9 — as-of join: for each left row, the single most recent right row
    with ``right_ts <= left_ts`` (backward; ``>=`` forward) per `on` key.
    Ties on right_ts break deterministically (lexicographic max/min of the
    remaining right columns). Fully duplicate left rows each produce one
    output row (per-left-ROW contract — rows are tagged with a unique id, not
    grouped by value).

    Spark has no native as-of join. Shape chosen for scale: range join ->
    ``groupBy(left_row).agg(max(struct(right_ts, right_cols)))``. The
    aggregate is partial (map-side combine), so the O(L x S) conditional-join
    output collapses to one row per left row BEFORE the shuffle — unlike the
    naive window-over-the-fan-out formulation, which must shuffle and sort
    the entire fan-out. For strongly skewed keys (one key holding many
    snapshots) the fan-out ROWS are still generated map-side; use
    ``asof_join_merge`` there — it generates no fan-out at all.
    """
    # explicit dataset aliases: left and right often share lineage (self-join
    # on the same source), which makes bare column refs ambiguous.
    # The per-row tag (__lid) is evaluated in TWO plan branches (range join
    # + final join-back) — _tag_left materializes the tagged frame once
    # (docstring there has the localCheckpoint-vs-spill_dir trade).
    l = _tag_left(left, spill_dir).alias("__asof_l")
    r = right.alias("__asof_r")
    lc = lambda c: F.col(f"__asof_l.{c}")  # noqa: E731
    rc = lambda c: F.col(f"__asof_r.{c}")  # noqa: E731
    cond = (lc(on) == rc(on)) & (
        rc(right_ts) <= lc(left_ts)
        if direction == "backward"
        else rc(right_ts) >= lc(left_ts)
    )
    rpayload = F.struct(
        rc(right_ts).alias("__ts"),
        *[rc(c).alias(f"r_{c}") for c in right.columns if c != on],
    )
    j = l.join(r, cond, "inner").select(lc("__lid").alias("__lid"), rpayload.alias("__rs"))
    pick = F.max("__rs") if direction == "backward" else F.min("__rs")
    best = j.groupBy("__lid").agg(pick.alias("__rs"))
    out_cols = [lc(c) for c in left.columns] + [
        F.col(f"__rs.r_{c}").alias(f"r_{c}") for c in right.columns if c != on
    ]
    return l.join(best, "__lid", "left").select(*out_cols)


def asof(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
    strategy: str = "auto",
    merge_above: int = 300,
    info: dict | None = None,
    spill_dir: str | None = None,
) -> DataFrame:
    """J9 front door — as-of join with automatic variant dispatch, so
    callers get the scale-safe plan without knowing the internals.

    ``strategy='range'`` forces :func:`asof_join` (conditional join +
    map-side-collapsing partial agg — fastest when no right key holds many
    snapshots); ``'merge'`` forces :func:`asof_join_merge` (union-sort-
    window, zero fan-out — immune to key skew); ``'auto'`` (default) picks
    from the right side's maximum per-key snapshot count, measured with ONE
    cheap partially-aggregated pass (``groupBy(key).count().agg(max)`` —
    map-side combine means ~1 scalar per task reaches the driver).

    The ``merge_above`` crossover (default 300 snapshots on the hottest
    key) comes from the measured A/B (BENCH/ab_asof.json, 10^6
    probes/local[8]): at max-per-key 100 the range arm
    wins (5.7s vs 7.3s), at 1,000 the merge arm wins (2.6s vs 6.1s) and the
    gap grows ~linearly in the hot key's fan-out (58s vs 2.6s at 10,000) —
    the geometric midpoint ~316 splits the measured bracket.

    ``info``: optional dict the dispatch decision is written into
    (``strategy`` chosen, ``max_right_per_key``, ``merge_above``) — pass
    one when you need the decision logged/asserted.

    ``spill_dir``: forwarded to the chosen variant — materialize the tagged
    left side durably through parquet instead of executor-memory
    localCheckpoint (_tag_left docstring has the trade; use it when the
    probe side itself is huge).
    """
    chosen = strategy
    max_per_key = None
    if strategy == "auto":
        row = right.groupBy(on).count().agg(F.max("count").alias("mx")).collect()[0]
        max_per_key = int(row["mx"] or 0)
        chosen = "merge" if max_per_key > merge_above else "range"
    elif strategy not in ("range", "merge"):
        raise ValueError(f"asof: unknown strategy {strategy!r}")
    if info is not None:
        info.update(
            strategy=chosen, max_right_per_key=max_per_key, merge_above=merge_above
        )
    fn = asof_join_merge if chosen == "merge" else asof_join
    return fn(left, right, on, left_ts, right_ts, direction, spill_dir=spill_dir)


def asof_join_merge(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
    spill_dir: str | None = None,
) -> DataFrame:
    """J9, skew path — identical semantics to :func:`asof_join`, zero fan-out.

    Union-sort-merge formulation (supersedes the time-bucketed variant an
    earlier docstring promised — bucketing bounds the fan-out, this removes
    it): probes and right events go into ONE relation sorted per key by
    timestamp; a running ``last(payload, ignorenulls)`` window carries the
    latest right payload forward, so each probe row reads its answer off the
    running state. Costs one shuffle+sort of L+R rows total — no conditional
    join, no L x S intermediate — which is the right shape when one key holds
    10^4+ snapshots (the range-join form generates S fan-out rows per probe
    of that key even though its aggregate collapses them map-side).

    Within-key work is a single task (window partitioning), O((L+R) log) per
    key with O(1) running state — linear in the hot key's data, never
    quadratic. Tie-breaks match asof_join: equal right_ts resolves to the
    lexicographic max (backward) / min (forward) of the remaining right
    columns; right rows sort before probes at equal timestamps so ties are
    inclusive.
    """
    from pyspark.sql import Window

    payload = F.struct(
        F.col(right_ts).alias("__ts"),
        *[F.col(c).alias(f"r_{c}") for c in right.columns if c != on],
    )
    events = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__t"),
        F.lit(0).cast("int").alias("__is_probe"),
        F.lit(None).cast("long").alias("__lid"),
        payload.alias("__rs"),
    )
    l = _tag_left(left, spill_dir)
    probes = l.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__is_probe"),
        F.col("__lid"),
        F.lit(None).cast(events.schema["__rs"].dataType).alias("__rs"),
    )
    merged = events.select(*probes.columns).unionByName(probes)
    if direction == "backward":
        # right rows first at equal ts (inclusive <=); ties -> max payload
        order = [F.col("__t").asc(), F.col("__is_probe").asc(), F.col("__rs").asc()]
    else:
        order = [F.col("__t").desc(), F.col("__is_probe").asc(), F.col("__rs").desc()]
    w = (
        Window.partitionBy("__k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.withColumn("__best", F.last("__rs", ignorenulls=True).over(w))
    best = carried.filter(F.col("__is_probe") == 1).select("__lid", "__best")
    out_cols = [F.col(c) for c in left.columns] + [
        F.col(f"__best.r_{c}").alias(f"r_{c}") for c in right.columns if c != on
    ]
    return l.join(best, "__lid", "left").select(*out_cols)
