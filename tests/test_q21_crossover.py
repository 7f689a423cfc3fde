"""q21 data-gated crossover (r13): below the size threshold the
declared plain-window plan runs unchanged; at/above it the
output-identical q421 grouped-rank tier takes over.

The output's final ORDER BY (l_orderkey, l_linenumber) is NOT a total
order (duplicate keys exist across return flags), so equality is
asserted on multisets (exceptAll both ways), never on collect order.
"""

from __future__ import annotations

import os

import pytest

from shredder_spark import queries as qm

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def reg():
    return qm.registry()


def _run_q21(spark, reg, threshold: int | None):
    old = os.environ.get("SHREDDER_Q21_TIER_MIN_BYTES")
    try:
        if threshold is None:
            os.environ.pop("SHREDDER_Q21_TIER_MIN_BYTES", None)
        else:
            os.environ["SHREDDER_Q21_TIER_MIN_BYTES"] = str(threshold)
        return reg["q21_ranking_windows"].run(spark, SF)
    finally:
        if old is None:
            os.environ.pop("SHREDDER_Q21_TIER_MIN_BYTES", None)
        else:
            os.environ["SHREDDER_Q21_TIER_MIN_BYTES"] = old


def test_small_input_keeps_declared_window_plan(spark, reg):
    df = _run_q21(spark, reg, None)  # sf0.001 << 256 MB default
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition" in plan
    assert "_sw_b" not in plan  # not the bucketed tier


def test_large_input_switches_to_grouped_tier(spark, reg):
    df = _run_q21(spark, reg, 1)  # force the >= branch
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # every window in the tier plan is (group, bucket)-partitioned
    assert "_sw_b" in plan


def test_branches_multiset_equal_and_same_schema(spark, reg):
    plain = _run_q21(spark, reg, None)
    tier = _run_q21(spark, reg, 1)
    # driver schema gate semantics: names + types (nullability differs
    # by construction — window functions are non-null, the tier's
    # offset arithmetic is nullable; q421 has passed the driver gate
    # with the nullable flavor since it shipped)
    assert ([(f.name, f.dataType) for f in plain.schema]
            == [(f.name, f.dataType) for f in tier.schema])
    assert plain.exceptAll(tier).count() == 0
    assert tier.exceptAll(plain).count() == 0


def test_threshold_reads_estimated_scan_bytes(spark, reg):
    from shredder_spark.catalog import load_table
    from shredder_spark.partitioning import estimated_scan_bytes

    li = load_table(spark, SF, "lineitem")
    nbytes = estimated_scan_bytes(li)
    assert nbytes is not None and 0 < nbytes < 256 << 20


def test_unknown_size_takes_grouped_tier(spark, reg, monkeypatch):
    # an input whose size cannot be estimated is treated as big
    import shredder_spark.partitioning as P
    monkeypatch.setattr(P, "estimated_scan_bytes", lambda df: None)
    df = _run_q21(spark, reg, None)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "_sw_b" in plan
