"""Plan-shape regression tests: pin the SCALE.md claims.

Small-SF value tests can't catch a lost pushdown or a de-broadcast —
these assertions can.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from shredder_spark import queries as Q
from shredder_spark.plans import inspect as P

SF = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def reg():
    return Q.registry()


def _run(spark, reg, name):
    return reg[name].run(spark, SF)


def test_q15_filter_pushed_and_columns_pruned(spark, reg):
    df = _run(spark, reg, "q15_pricing_summary")
    P.assert_pushed_filter(df, "lineitem", "LessThanOrEqual(l_shipdate")
    cols = P.read_columns(df, "lineitem")
    assert "l_comment" not in cols and "l_partkey" not in cols
    assert {"l_returnflag", "l_linestatus", "l_quantity"} <= cols


def test_q13_dim_broadcast(spark, reg):
    df = _run(spark, reg, "q13_broadcast_join")
    assert "BroadcastHashJoin" in P.join_strategies(df)


def test_q25_topk_no_global_sort(spark, reg):
    P.assert_top_k(_run(spark, reg, "q25_topk"))


def test_q43_topk_and_scan_pruning(spark, reg):
    df = _run(spark, reg, "q43_cosine_topk")
    P.assert_top_k(df)
    P.assert_no_cartesian(df)


def test_q84_no_cartesian_in_sixway_join(spark, reg):
    df = _run(spark, reg, "q84_local_supplier_volume")
    P.assert_no_cartesian(df)
    P.assert_pushed_filter(df, "region", "EqualTo(r_name,ASIA)")


def test_q76_asof_shuffle_only(spark, reg):
    df = _run(spark, reg, "q76_asof_union_trick")
    assert P.join_strategies(df) == []  # no join at all: union + window


def test_bucketed_join_is_shuffle_free(spark, tmp_path_factory, reg):
    """Same-bucketed tables join with no Exchange on either side."""
    from shredder_spark.catalog import load_table
    from shredder_spark.operators.bucketing import colocated_join, write_bucketed

    o = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = load_table(spark, SF, "customer").select("c_custkey", "c_name")
    write_bucketed(o, "b_orders", "o_custkey", 8)
    write_bucketed(c.withColumnRenamed("c_custkey", "o_custkey"), "b_customer",
                   "o_custkey", 8)

    # force the non-broadcast path: bucketing matters exactly when the
    # sides are too big to broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(spark, "b_orders", "b_customer", "o_custkey")
        plan = P.executed_plan(joined)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "Exchange" not in plan, plan
        # and the same join on unbucketed frames DOES shuffle (control)
        control = o.join(c.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey")
        assert "Exchange" in P.executed_plan(control)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_fixedwidth_source_prunes_columns(spark, tmp_path):
    """Selecting 1 of N fixed-width columns must compute 1 slice, not N
    (Catalyst drops the unused substring exprs when the projection
    collapses — the fixed-width source is prune-transparent)."""
    import json

    from shredder_spark.sources.fixedwidth import read_fixed_width

    schema = {"type": "record", "name": "p", "fields": [
        {"name": f"C{i}", "type": {"type": "string", "len": 4}} for i in range(10)
    ]}
    p = tmp_path / "d.txt"
    p.write_bytes(b"abcd" * 10 + b"\r\n")
    df = read_fixed_width(spark, str(p), json.dumps(schema)).select("C3")
    plan = P.executed_plan(df)
    assert plan.count("substr") <= 2, plan  # byte fast path + char fallback
    assert df.first()["C3"] == "abcd"


def test_time_partitioned_write_prunes(spark, tmp_path):
    """Filtering on the partition bucket must prune at plan time
    (PartitionFilters), reading only matching directories."""
    from shredder_spark.catalog import load_table
    from shredder_spark.operators.bucketing import (
        read_time_partitioned, write_time_partitioned)

    events = load_table(spark, SF, "events")
    out = str(tmp_path / "events_part")
    write_time_partitioned(events, out, "ts", granularity="day")

    df = read_time_partitioned(spark, out).filter("p_bucket = '2024-01-05'")
    plan = P.formatted_plan(df)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "p_bucket" in pf[0], plan[:800]
    # row-for-row identical to the unpartitioned filter
    exact = events.filter(F.to_date("ts") == "2024-01-05").count()
    assert df.count() == exact and exact > 0


def test_q237_join_hints_pin_strategies(spark, reg):
    """The SHUFFLE_HASH / MERGE hints must surface as those physical
    join operators (an unhinted run may broadcast everything)."""
    df = _run(spark, reg, "q237_join_strategy_hints")
    plan = P.formatted_plan(df)
    assert "ShuffledHashJoin" in plan, plan[:1200]
    assert "SortMergeJoin" in plan, plan[:1200]


def test_rebalance_and_repartition_hints(spark, reg):
    """Output-layout hints must land in the plan: REBALANCE inserts an
    AQE-rebalanced exchange, REPARTITION(n, col) a hash exchange."""
    from shredder_spark.catalog import register_views
    register_views(spark, SF)
    reb = spark.sql("SELECT /*+ REBALANCE */ o_orderkey FROM orders")
    assert "rebalance" in reb._jdf.queryExecution().toString().lower()
    rep = spark.sql(
        "SELECT /*+ REPARTITION(7, o_custkey) */ o_orderkey, o_custkey FROM orders")
    assert rep.rdd.getNumPartitions() == 7
    plan = P.formatted_plan(rep)
    assert "Exchange" in plan and "hashpartitioning(o_custkey" in plan


def test_package_imported_from_this_checkout():
    """The suite and the tools it runs use this checkout's package, not
    another copy on the path."""
    import shredder_spark

    pkg = os.path.realpath(shredder_spark.__file__)
    assert pkg.startswith(os.path.realpath(ROOT) + os.sep), pkg


def test_survey_registry_coverage():
    """SURVEY §2 Part B citations and the query registry stay in sync."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_coverage.py")],
        capture_output=True, text=True)
    assert r.returncode == 0, r.stdout + r.stderr


def test_runtime_bloom_filter_injection(spark):
    """Runtime bloom-filter join pruning (the 100 TB lever for selective
    fact x dim SMJs that can't broadcast): the optimizer builds a bloom
    filter from the filtered build side and injects might_contain on
    the fact side's join key, pruning shuffle input at scan time. Off
    by default below a 10 GB application-side scan, so the test lowers
    that threshold - the assert is that the rewrite fires at all (and a
    control that it doesn't when disabled)."""
    from shredder_spark.catalog import load_table

    li = load_table(spark, SF, "lineitem")
    orders = load_table(spark, SF, "orders").filter(
        F.col("o_totalprice") > 400000)
    mk = lambda: (li.join(orders, li.l_orderkey == orders.o_orderkey)
                  .select("l_orderkey", "l_quantity", "o_totalprice"))
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "0")
        plan = mk()._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        control = mk()._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" not in control
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter."
                         "applicationSideScanSizeThreshold")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true")


def test_sparse_cosine_join_no_cartesian(spark, reg):
    """q309's sparse TF-IDF cosine must meet docs through the shared-
    term equi-join — a Cartesian/BNL pair generator would be the
    O(n^2) failure mode at scale."""
    df = _run(spark, reg, "q309_tfidf_cosine_pairs")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    strategies = P.join_strategies(df)
    assert strategies, "expected joins in the sparse-cosine plan"


def test_basket_lift_no_cartesian(spark, reg):
    """q285 pair mining joins baskets on l_orderkey (equi), never as a
    cross product."""
    df = _run(spark, reg, "q285_market_basket_lift")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_no_raw_row_global_windows_lint():
    """Registry lint: no unpartitioned ORDER BY window over raw base
    rows in any engine-side SQL text (rounds 3 and 4 each reintroduced
    the shape; this makes it a test failure)."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "lint_global_windows.py")],
        capture_output=True, text=True)
    assert r.returncode == 0, r.stdout + r.stderr


def test_no_unguarded_descending_sequence_lint():
    """Registry lint: every SEQUENCE(1, x) whose upper bound can go
    below 1 must sit inside an IF/CASE total expression — Spark's
    SEQUENCE(1, 0) is the DESCENDING [1, 0], and WHERE guards do not
    protect the generator expression from Catalyst's
    InferFiltersFromGenerate (q249/q189/q459 all broke at sf1 on
    empty/1-token docs before round 7 made the family total)."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "lint_descending_sequence.py")],
        capture_output=True, text=True)
    assert r.returncode == 0, r.stdout + r.stderr


def test_no_orderdependent_float_sum_lint():
    """Registry lint: SUM over POWER/SQRT/LN/EXP doubles feeding a
    FLOOR(x*1e5+) must fold a SORTED list — Spark's partial-agg merge
    order is task-completion-dependent, so a plain SUM drifts one ulp
    between runs and flips the floor boundary (q554 flaked exactly
    this way in a contended round-7 sweep; q507 was the same class)."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "lint_float_sum_floor.py")],
        capture_output=True, text=True)
    assert r.returncode == 0, r.stdout + r.stderr


def test_sum_order_determinism_across_parallelism(spark):
    """Regression net for the order-determinism class: the two fixed
    queries must produce IDENTICAL rows under different shuffle
    parallelism (different partition counts exercise different
    partial-agg merge shapes)."""
    from shredder_spark import queries as q

    for name in ("q554_temperature_sweep", "q507_fleiss_kappa"):
        query = q.registry()[name]
        old = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "3")
            a = [tuple(r) for r in
                 query.run(spark, "/root/testdata/sf0.001").collect()]
            spark.conf.set("spark.sql.shuffle.partitions", "16")
            b = [tuple(r) for r in
                 query.run(spark, "/root/testdata/sf0.001").collect()]
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        assert a == b, name


GLOBAL_WINDOW_REWRITES = [
    # round-5 scale rewrites of the round-4 raw-row global windows:
    # builders route through operators/scale_windows.py, SQL rewrites
    # are top-k (TakeOrdered) or bounded-aggregate shapes.
    "q240_shard_plan",
    "q260_vocab_coverage",
    "q275_weighted_sample_ares",
    "q559_histogram_equalization",
    "q584_packing_efficiency",
    "q666_hill_estimator",
    # q295/q328/q636/q640/q671 keep a window over a BOUNDED relation
    # (per-value aggregate or LIMIT prefix) — the accepted shape; the
    # lint above classifies those, so they are not in this strict list.
]


@pytest.mark.parametrize("name", GLOBAL_WINDOW_REWRITES)
def test_rewritten_queries_have_no_unpartitioned_window(spark, name, reg):
    from shredder_spark.operators.scale_windows import (
        assert_no_unpartitioned_window,
    )

    df = reg[name].run(spark, SF)
    assert_no_unpartitioned_window(df)
