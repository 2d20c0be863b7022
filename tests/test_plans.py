"""Physical-plan audits (SURVEY §4.2): the optimizations we rely on at 100 TB
must actually appear in the plan — column pruning of the html BINARY column,
predicate pushdown to parquet, broadcast joins for small dims, whole-stage
codegen in the hot paths."""

import os

from pyspark.sql import functions as F

from tests.conftest import TESTDATA_ROOT


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _outside_caches(df) -> list[str]:
    """One line per node of the executed plan (the final plan under AQE),
    indented three spaces per depth, minus every cache's own build plan.
    Walks the plan's children: an InMemoryTableScan is a leaf whose cached
    relation is an inner child, so the walk skips each cache however deeply
    one cache is built from another. (Cutting the printed plan by
    indentation failed there: a nested AdaptiveSparkPlan prints its
    `== Final Plan ==` header and body shallower than the InMemoryRelation
    above it.)"""
    out, todo = [], [(df._jdf.queryExecution().executedPlan(), 0)]
    while todo:
        node, depth = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":  # its current (final once run) plan
            todo.append((node.executedPlan(), depth))
            continue
        if name.endswith("QueryStage"):  # a stage wraps its exchange
            todo.append((node.plan(), depth))
            continue
        out.append("   " * depth + node.simpleString(100))
        kids = node.children()
        todo.extend((kids.apply(i), depth + 1) for i in reversed(range(kids.size())))
    return out


def _fed_through_exchange(lines: list[str], leaf: str) -> bool:
    """Whether an Exchange sits between a `leaf` line and the nearest join
    above it, in `_outside_caches` lines."""
    for i, ln in enumerate(lines):
        if not ln.lstrip().startswith(leaf):
            continue
        depth = len(ln) - len(ln.lstrip())
        for up in reversed(lines[:i]):
            d = len(up) - len(up.lstrip())
            if d < depth:  # the parent
                depth = d
                if "Join" in up:
                    break
                if up.lstrip().startswith("Exchange"):
                    return True
    return False


def test_outside_caches_skips_a_cache_built_from_a_cache(spark):
    """Pagerank's hub-split SpMV shape under the session's AQE: the hub and
    tail edge caches are built from the sorted edge cache, and the step
    unions a broadcast join on one with a shuffled-hash join on the other.
    None of the three caches' build plans is left in the lines, and the
    tail join is (cutting the printed plan by indentation kept 40 build
    lines and dropped the tail join)."""
    e = spark.range(2000).select(
        (F.col("id") % 100).alias("src"), (F.col("id") % 37).alias("dst")
    )
    e = e.repartition(8, "src").sortWithinPartitions("src").persist()
    hub_ids = spark.range(3).persist()
    e_hub = e.join(F.broadcast(hub_ids), e.src == hub_ids.id, "left_semi").persist()
    e_tail = e.join(F.broadcast(hub_ids), e.src == hub_ids.id, "left_anti").persist()
    caches = (e, hub_ids, e_hub, e_tail)
    try:
        for c in caches:
            c.count()
        w = spark.range(100).select(F.col("id").alias("src"), (F.col("id") / 3).alias("w"))
        w = w.localCheckpoint()
        q = (
            e_hub.join(F.broadcast(w), "src")
            .unionByName(e_tail.join(w.hint("shuffle_hash"), "src"))
            .groupBy("dst")
            .agg(F.sum("w"))
        )
        q.collect()
        lines = _outside_caches(q)
        assert sum("InMemoryTableScan" in ln for ln in lines) == 2, lines
        assert sum("ShuffledHashJoin" in ln for ln in lines) == 1, lines
        build = ("REPARTITION_BY_NUM", "LeftSemi", "LeftAnti", "Sort ", "Plan ==", "InMemoryRelation")
        assert not any(b in ln for ln in lines for b in build), lines
    finally:
        for c in caches:
            c.unpersist()


def test_html_column_pruned_for_metadata_query(spark, pages_small):
    """A lang-count over pages must not read the (huge) html BINARY column."""
    pages, _ = pages_small
    q = pages.groupBy("lang").agg(F.count("*").alias("n"))
    plan = _plan(q)
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln or "FileScan" in ln]
    assert scan_lines, plan
    assert all("html" not in ln for ln in scan_lines), scan_lines


def test_predicate_pushdown_to_parquet(spark):
    li = spark.read.parquet(f"{TESTDATA_ROOT}/sf0.001/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 30).select("l_orderkey")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30" in plan, plan


def test_small_dim_join_is_broadcast(spark):
    li = spark.read.parquet(f"{TESTDATA_ROOT}/sf0.001/lineitem.parquet")
    p = spark.read.parquet(f"{TESTDATA_ROOT}/sf0.001/part.parquet")
    q = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).groupBy("p_brand").count()
    assert "BroadcastHashJoin" in _plan(q)


def test_hot_path_is_whole_stage_codegen(spark):
    li = spark.read.parquet(f"{TESTDATA_ROOT}/sf0.001/lineitem.parquet")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    q.collect()  # AQE finalizes the plan only on execution
    plan = _plan(q)
    # codegen'd operators print with a '*(N)' stage marker
    assert "*(1) HashAggregate" in plan or "WholeStageCodegen" in plan, plan


def test_topk_plans_take_ordered(spark):
    o = spark.read.parquet(f"{TESTDATA_ROOT}/sf0.001/orders.parquet")
    q = o.orderBy(F.desc("o_totalprice")).limit(5)
    assert "TakeOrderedAndProject" in _plan(q)


def test_extraction_reads_only_needed_columns(spark, pages_small):
    """extract_edges needs url+html only — text/lang/warc_ts must be pruned."""
    from scalemine_spark.extract import extract_edge_urls

    pages, _ = pages_small
    q = extract_edge_urls(pages)
    plan = _plan(q)
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines
    assert all("warc_ts" not in ln and "text" not in ln for ln in scan_lines), scan_lines


def test_partition_pruning_on_dt(spark, tmp_path):
    """S2 at scale: pages partitioned by crawl date -> date filters prune."""
    df = spark.range(100).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, "2026-01-01").otherwise("2026-01-02").alias("dt"),
    )
    path = str(tmp_path / "parted")
    df.write.partitionBy("dt").parquet(path)
    q = spark.read.parquet(path).filter(F.col("dt") == "2026-01-01")
    plan = _plan(q)
    # pruned read: only one of the two partition dirs survives planning
    assert "PartitionFilters" in plan and "2026-01-01" in plan


def test_extraction_is_single_python_crossing(spark, pages_small):
    """The fused Stage-A path must stay ONE Python/Arrow crossing end-to-end
    (extract 83s -> 40s win in round 2 came from fusing decode+findall+
    normalize into one mapInPandas; guard it against regression)."""
    from scalemine_spark.extract import extract_edges

    pages, _ = pages_small
    plan = _plan(extract_edges(pages))
    # one physical node = one plan line; counting substring hits across
    # overlapping markers ('PythonMapInPandas' contains 'MapInPandas') would
    # double-count a single node, so count LINES naming any crossing node
    markers = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "MapInArrow")
    crossings = sum(
        1 for ln in plan.splitlines() if any(m in ln for m in markers)
    )
    assert crossings == 1, f"expected exactly 1 Python crossing, plan:\n{plan}"


def test_cc_round_exchange_budget(spark):
    """G2 at scale: one large-star+small-star round must shuffle full-E data
    exactly 3x (large-star probe, small-star probe, closing distinct) plus
    two ~V-sized partial-aggregate exchanges — NOT the 6E of the symmetrize-
    and-self-join formulation. Count Exchange nodes in the pre-checkpoint
    segment of the round plan."""
    from scalemine_spark.algorithms.components import _cc_round

    e = spark.range(64).select(
        (F.col("id") + 32).alias("u"), (F.col("id") % 32).alias("v")
    )
    out, ls = _cc_round(e)

    def exchanges_outside_cache(df) -> int:
        """Count Exchange nodes excluding the cached large-star subtree —
        InMemoryTableScan re-prints the cached plan per consumer, so a flat
        count would double-count it."""
        return sum(
            "Exchange hashpartitioning" in ln and "ReusedExchange" not in ln
            for ln in _outside_caches(df)
        )

    # small-star segment (everything above the cached large-star relation):
    # probe exchange + partial-agg exchange + distinct exchange = 3
    assert exchanges_outside_cache(out) <= 3, _plan(out)
    ls.unpersist()


def test_asof_join_plan_aggregates_not_window(spark):
    """J9 at scale: the as-of pick must be a (partial+final) aggregate — the
    window/row_number formulation would shuffle+sort the full range-join
    fan-out. Assert the plan has the aggregate and NO Window node."""
    from scalemine_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 10)], "k long, ts long")
    right = spark.createDataFrame([(1, 8, 1.0)], "k long, ts long, v double")
    q = asof_join(left, right, on="k", left_ts="ts", right_ts="ts")
    plan = _plan(q)
    assert "Window" not in plan, plan
    assert "partial_max" in plan or "HashAggregate" in plan, plan


def test_sorted_edge_cache_feeds_smj_without_resort(spark):
    """The iterative-algorithm edge-cache rule (hits/sssp/bfs/lpa/
    random_walks): a persisted cache repartitioned AND sortWithinPartitions
    on the join key feeds every per-round sort-merge join through its cached
    ordering — no Sort and no Exchange above the InMemoryTableScan. The
    contrast case (unsorted cache) re-sorts the E-sized side per join, which
    measured 1.8x slower on g12's lookup cache (BENCH/new_algos_r5.json)."""
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        base = spark.range(1000).select(
            (F.col("id") % 100).alias("src"), (F.col("id") % 7).alias("dst")
        )
        frontier = spark.range(10).select(F.col("id").alias("src"))

        def cache_side_sorts(e) -> int:
            """Sort nodes between the SMJ and the InMemoryTableScan (the
            cache's internal build plan, re-printed under InMemoryRelation,
            is excluded by cutting at the relation line)."""
            plan = _plan(e.join(frontier, "src"))
            n = 0
            for ln in plan.splitlines():
                if "InMemoryRelation" in ln:
                    break
                if "Sort " in ln and "SortMergeJoin" not in ln:
                    n += 1
            return n

        sorted_cache = (
            base.repartition(8, "src").sortWithinPartitions("src").persist()
        )
        sorted_cache.count()
        unsorted_cache = base.repartition(8, "src").persist()
        unsorted_cache.count()
        try:
            assert cache_side_sorts(sorted_cache) == 0, _plan(
                sorted_cache.join(frontier, "src")
            )
            assert cache_side_sorts(unsorted_cache) >= 1
        finally:
            sorted_cache.unpersist()
            unsorted_cache.unpersist()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_fsm_never_plans_a_cartesian_or_nested_loop(spark):
    """G15: the whole point of the profile formulation is that NO stage
    enumerates embedding pairs — the plan must contain no CartesianProduct
    and no BroadcastNestedLoopJoin, and the Apriori prune must reach the
    edge table as a broadcast LEFT-SEMI hash join (frequent edge-pattern
    set is <= L^2 rows, never a shuffle of E)."""
    from scalemine_spark.algorithms import frequent_subgraphs

    e = (
        spark.range(400)
        .select(
            (F.col("id") % 60).alias("src"),
            ((F.col("id") * 13 + 7) % 60).alias("dst"),
        )
        .filter("src <> dst")
        .distinct()
    )
    labs = spark.range(60).select("id", (F.col("id") % 3).cast("int").alias("lab"))
    res = frequent_subgraphs(e, labs, min_support=2)
    res.collect()  # AQE finalizes the plan only on execution
    plan = _plan(res)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    semi = [
        ln
        for ln in plan.splitlines()
        if "BroadcastHashJoin" in ln and "LeftSemi" in ln
    ]
    assert semi, plan


def _steady_plans(monkeypatch, runs) -> list:
    """The last iteration's frame of each run, executed (so an AQE plan is
    final), caught at the kernel's materialize."""
    import scalemine_spark.iterate as kernel

    frames = []
    materialize = kernel.materialize

    def spy(frame, it, checkpointer=None, metrics=None):
        out = materialize(frame, it, checkpointer, metrics)
        frames.append(frame)
        return out

    monkeypatch.setattr(kernel, "materialize", spy)
    last = []
    for run in runs:
        frames.clear()
        run()
        last.append(frames[-1])
    return last


def test_pagerank_steady_iteration_is_two_shuffled_hash_joins(spark, monkeypatch):
    """The SpMV join (edge cache ⋈ rank/out_deg) and the state update join
    (state ⋈ contribs) of a steady pagerank and ppr iteration are both
    shuffled-hash joins built on the vertex-sized side: no sort-merge join,
    no Sort above the edge cache and no broadcast of it (the planner
    broadcast the whole edge table each iteration while it was under the
    auto-broadcast threshold). The loop runs in its own session at the
    edge cache's width with AQE off, so the committed state stays
    co-partitioned with the cache: the step's only Exchange is the
    V-sized partial-aggregate groupBy(dst), none feeds a join from the
    state's scan or the edge cache's, also at a width other than the
    caller's (where the edge cache used to be re-shuffled every iteration)."""
    from scalemine_spark import fixtures as FX
    from scalemine_spark.algorithms import pagerank, personalized_pagerank
    from tests.conftest import edges_df

    e = edges_df(spark, FX.g_karate_like())
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    frames = _steady_plans(
        monkeypatch,
        [
            lambda: pagerank(e, fixed_iters=3),
            lambda: personalized_pagerank(e, [0, 1], fixed_iters=3),
            lambda: pagerank(e, fixed_iters=3, num_partitions=width // 2),
            lambda: personalized_pagerank(e, [0, 1], fixed_iters=3, num_partitions=width // 2),
        ],
    )
    for frame in frames:
        plan = _plan(frame)
        lines = _outside_caches(frame)
        # both joins build their right side: the rank/out_deg slice, contribs
        shj = [ln for ln in lines if "ShuffledHashJoin" in ln]
        assert len(shj) == 2 and all("BuildRight" in ln for ln in shj), plan
        assert not any("SortMergeJoin" in ln for ln in lines), plan
        assert not any(ln.lstrip().startswith("Sort ") for ln in lines), plan
        assert not any("Broadcast" in ln for ln in lines), plan
        exchanges = [ln.strip() for ln in lines if ln.lstrip().startswith("Exchange")]
        assert len(exchanges) == 1 and "hashpartitioning(dst" in exchanges[0], plan
        assert not _fed_through_exchange(lines, "Scan ExistingRDD"), plan
        assert not _fed_through_exchange(lines, "InMemoryTableScan"), plan


def test_labelprop_steady_iteration_broadcasts_nothing(spark, monkeypatch):
    """A steady LPA iteration joins the symmetrized edge cache with the
    labels and the labels with the new labels as shuffled-hash joins built
    on the vertex side, in its own session at the cache's width with AQE
    off: no broadcast of the 2E cache (the AQE-off planner broadcast it),
    no sort-merge join, and no Exchange on the labels' or the cache's way
    into a join. Its two Exchanges are the (id, label) and id aggregates."""
    from scalemine_spark import fixtures as FX
    from scalemine_spark.algorithms import label_propagation
    from tests.conftest import edges_df

    e = edges_df(spark, FX.g_karate_like())
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    frames = _steady_plans(
        monkeypatch,
        [
            lambda: label_propagation(e, iters=3),
            lambda: label_propagation(e, iters=3, num_partitions=width // 2),
        ],
    )
    for frame in frames:
        plan = _plan(frame)
        lines = _outside_caches(frame)
        shj = [ln for ln in lines if "ShuffledHashJoin" in ln]
        assert len(shj) == 2 and all("BuildRight" in ln for ln in shj), plan
        assert not any("SortMergeJoin" in ln or "Broadcast" in ln for ln in lines), plan
        assert sum(ln.lstrip().startswith("Exchange") for ln in lines) == 2, plan
        assert not _fed_through_exchange(lines, "Scan ExistingRDD"), plan
        assert not _fed_through_exchange(lines, "InMemoryTableScan"), plan
