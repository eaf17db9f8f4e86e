"""Physical-plan shape assertions (SURVEY.md §4): the optimizations we
rely on must actually appear in `explain` output — pushed filters,
broadcast joins for dims, no nested-loop joins on the band join, and
whole-stage codegen on the hot relational path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from topicalcrawler_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet(spark):
    plan = _plan(spark, "pricing_summary")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_in_scan(spark):
    # 3-column projection must not read the full 16-column lineitem
    plan = _plan(spark, "pricing_summary")
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema


def test_dims_broadcast_in_star_join(spark):
    plan = _plan(spark, "revenue_by_nation")
    assert "BroadcastHashJoin" in plan


def test_band_join_is_not_nested_loop(spark):
    # equi band key (user_id) must make the planner pick a hash or
    # sort-merge join, never BroadcastNestedLoop
    plan = _plan(spark, "event_pairs_band_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_whole_stage_codegen_on_agg_path(spark):
    # AQE wraps the plan before execution, hiding codegen subtrees
    # from explain — disable it just for this compile-time check
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["pricing_summary"].fn(spark, SF)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "codegen"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    assert "WholeStageCodegen subtrees" in plan
    n = int(plan.split("WholeStageCodegen subtrees")[0].rsplit("Found", 1)[1])
    assert n >= 1


def test_semi_and_anti_join_operators(spark):
    plan = _plan(spark, "semi_anti_join_customers")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_no_python_udf_in_pure_relational_queries(spark):
    # 2.H families and the TPC-H surface must stay JVM-side
    for name in ("pricing_summary", "revenue_by_nation", "window_rank_orders",
                 "scalar_functions_part", "simhash_docs", "fingerprint_docs"):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_bucketed_join_has_no_shuffle_exchange(spark, tmp_path):
    """Co-located join via bucketing: two tables bucketed by the same
    key and count must sort-merge join with ZERO Exchange operators —
    the shape that lets repeated big-big joins amortize partitioning
    at the 100 TB design point."""
    from topicalcrawler_spark.sources import write_bucketed

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '{tmp_path}/wh'"
    )
    a = spark.range(0, 20000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("x")
    )
    b = spark.range(0, 20000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).alias("y")
    )
    write_bucketed(a, "bucketdb.t_a", "doc_id", 8)
    write_bucketed(b, "bucketdb.t_b", "doc_id", 8)
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("bucketdb.t_a").join(
            spark.table("bucketdb.t_b"), "doc_id"
        )
        plan = spark._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "simple"
        )
        n = j.count()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bucketdb.t_a")
        spark.sql("DROP TABLE IF EXISTS bucketdb.t_b")
        spark.sql("DROP DATABASE IF EXISTS bucketdb")
    assert n == 20000
    phys = plan.split("== Physical Plan ==")[-1]
    assert "SortMergeJoin" in phys
    assert "Exchange" not in phys, phys


def _window_specs(plan: str) -> list[str]:
    # each physical Window node prints "Window [funcs], [partition], [order]"
    return [ln for ln in plan.splitlines() if ln.lstrip().startswith("Window ")]


def test_no_unpartitioned_window_in_trace_plan(spark):
    """The round-1 scale-killer: a global row_number single-partitions
    its input (five WindowExec warnings in the driver bench).
    global_rank ranks with no Window at all — range exchange,
    per-partition sort, driver-side offsets — so its plan must hold no
    Window, no BroadcastNestedLoopJoin and exactly one range exchange,
    and its ranks must be exactly base+1..base+n: for the trace order,
    for base > 0, and when a range partition is left empty."""
    from topicalcrawler_spark.functions import order_cols
    from topicalcrawler_spark.operators.politeness import global_rank

    def check(df, caches, key_cols, out_col, base):
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
        assert not _window_specs(plan), plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        # global_rank is eager, so the persisted layout's plan is final;
        # count the exchange once, not again in its initial plan
        final = plan.split("== Initial Plan ==")[0]
        assert final.count("Exchange rangepartitioning") == 1, plan
        rows = df.orderBy(out_col).collect()
        assert [r[out_col] for r in rows] == list(range(base + 1, base + len(rows) + 1))
        keys = [key_cols(r) for r in rows]
        assert keys == sorted(keys)
        for c in caches:
            c.unpersist()

    frontier = spark.range(1000).select(
        F.col("id").alias("discovery_seq"),
        (F.col("id") % 7).cast("long").alias("relevance_q"),
        (F.col("id") % 3).cast("int").alias("depth"),
        F.lit("2026-02-01 00:00:00").cast("timestamp").alias("discovery_time"),
    )
    trace_key = lambda r: (  # noqa: E731
        -r["relevance_q"], r["depth"], r["discovery_time"], r["discovery_seq"]
    )
    caches: list = []
    df = global_rank(frontier, order_cols(), "trace_seq", caches)
    check(df, caches, trace_key, "trace_seq", 0)

    # base > 0 (the admission rank: base = n_seen)
    caches = []
    df = global_rank(
        frontier, [F.col("discovery_seq").asc()], "rk", caches, base=5000
    )
    check(df, caches, lambda r: r["discovery_seq"], "rk", 5000)

    # 7 distinct keys then 100 ties at the maximum: the sampled range
    # bounds end at that maximum, so the last range partition is empty
    skewed = spark.range(107, numPartitions=1).select(
        F.least(F.col("id"), F.lit(7)).alias("k")
    )
    caches = []
    df = global_rank(skewed, [F.col("k").asc()], "rk", caches, base=3)
    ranged = caches[0]
    assert ranged.select("_pid").distinct().count() < ranged.rdd.getNumPartitions()
    check(df, caches, lambda r: r["k"], "rk", 3)


def test_registry_wide_plan_sweep(spark):
    """Every one of the 50 registry queries, two universal anti-pattern
    bans asserted on the optimized physical plan (explain only, no
    execution):

    - no row-at-a-time Python UDF anywhere (BatchEvalPython) — Python
      hot paths must be Arrow-vectorized (ArrowEvalPython / *InPandas);
    - no unpartitioned Window node — a global window single-tasks the
      whole input at 100x scale (round-1's scale-killer, banned here
      registry-wide rather than per-query).
    """
    from topicalcrawler_spark.queries import REGISTRY

    for name, q in REGISTRY.items():
        df = q.fn(spark, SF)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
        assert "BatchEvalPython" not in plan, name
        for spec in _window_specs(plan):
            assert "], [], [" not in spec, f"{name}: unpartitioned window: {spec}"


def test_langid_quality_is_single_scan_no_join(spark):
    # lang-ID + quality are per-row expressions over one token array:
    # the merged entry must be ONE projection over ONE documents scan,
    # not a doc_id self-join of the two families
    plan = _plan(spark, "langid_quality_docs")
    assert "Join" not in plan
    # formatted explain prints each node twice (tree + details) —
    # count scans in the tree block only
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1


def test_ivf_topk_cell_join_is_broadcast_pre_aqe(spark):
    """The probed-query side of ivf_topk's cell join must be broadcast
    by HINT, not rescued by AQE: both sides come out of mapInPandas
    with no size stats, and a sort-merge fallback would hash-shuffle
    the whole corpus on a ~n_cells-distinct key (the worst exchange in
    the IVF path).  Checked with AQE off so only the static plan
    counts."""
    from topicalcrawler_spark.analysis import similarity as sim

    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        emb = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(8)],
            "vec_id long, embedding array<double>",
        )
        q = spark.createDataFrame(
            [(100, [1.0, 0.5])], "query_id long, qvec array<double>"
        )
        cents = spark.createDataFrame(
            [(0, [0.0, 0.0]), (1, [4.0, 1.0])],
            "cell int, centroid array<double>",
        )
        plan = spark._jvm.PythonSQLUtils.explainString(
            sim.ivf_topk(emb, q, cents)._jdf.queryExecution(), "simple"
        )
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def test_registry_packed_to_driver_checking_window():
    """Guard against the r02 regression class: the driver checks exactly
    the first 50 registry entries, so any future packing that silently
    pushes an entry past the window would un-gate it.  Every entry must
    also carry an oracle (the weaker rows-only check is reserved for
    genuinely non-SQL-expressible ops, of which the registry currently
    has none)."""
    from topicalcrawler_spark.queries import oracle_sql, queries

    q, o = queries(), oracle_sql()
    assert len(q) == 50, sorted(q)
    assert set(q) == set(o), set(q) ^ set(o)


def test_canon_and_relevance_is_one_pruned_arrow_node(spark):
    """U1+U2 must evaluate as ONE ArrowEvalPython node over PRUNED
    inputs: Catalyst batches the two independent scalar pandas UDFs
    into a single python worker pass (no per-UDF spawn storm), and
    only (url, context) cross the worker socket — not the whole row
    echoed both ways, which at the 60M-key design point put tens of
    MB in flight in both directions of one socket and deadlocked
    Spark 4.1's single-threaded PythonRunner (round-5 incident,
    functions/__init__.py:with_canon_and_relevance docstring)."""
    from topicalcrawler_spark.functions import with_canon_and_relevance

    df = spark.createDataFrame(
        [("http://A.test/x#f", "ctx words", "p", 1, 5, 0)],
        "url string, context string, parent_url string, "
        "parent_depth int, parent_seq long, idx int",
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        with_canon_and_relevance(df)._jdf.queryExecution(), "simple"
    )
    assert plan.count("ArrowEvalPython") == 1, plan
    arrow_line = next(
        line for line in plan.splitlines() if "ArrowEvalPython" in line
    )
    assert "canon_udf" in arrow_line and "relevance_q_udf" in arrow_line
    assert "MapInPandas" not in plan


def test_crawl_link_and_seed_plans_run_canon_once(spark, tmp_path):
    """The crawl's real link plan and init_crawl's seed plan each hold
    exactly ONE ArrowEvalPython node.  Were canon_udf deterministic,
    Catalyst would push the P4 scheme filter (startswith on url_canon)
    below the projection that computes url_canon, copying canon_udf
    into the filter: two Python nodes, so canon would run twice on
    every link and every seed.  The link plan's one node carries both
    UDFs, and the depth half of the gate sits below it, so over-deep
    links never reach Python."""
    import re

    from topicalcrawler_spark.plans.round import (
        CrawlConfig,
        _candidate_links,
        _seed_frontier,
    )
    from topicalcrawler_spark.schemas import FETCHED
    from topicalcrawler_spark.sources import fixtures as fx

    def plan_lines(df) -> list[str]:
        return spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        ).splitlines()

    links = plan_lines(_candidate_links(spark.createDataFrame([], FETCHED), 3, 1))
    arrow = [i for i, ln in enumerate(links) if "ArrowEvalPython" in ln]
    assert len(arrow) == 1, "\n".join(links)
    assert "canon_udf" in links[arrow[0]] and "relevance_q_udf" in links[arrow[0]]
    depth = [i for i, ln in enumerate(links) if re.search(r"\(depth#\d+ \+ 1\) <= 3", ln)]
    assert depth and min(depth) > arrow[0], "\n".join(links)

    seeds = str(tmp_path / "seeds.txt")
    fx.write_seed_file(seeds)
    cfg = CrawlConfig(root=str(tmp_path / "crawl"))
    seed_plan = plan_lines(_seed_frontier(spark, cfg, seeds))
    assert sum("ArrowEvalPython" in ln for ln in seed_plan) == 1, "\n".join(seed_plan)
