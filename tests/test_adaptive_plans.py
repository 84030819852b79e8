"""Size-gated physical-plan cutovers must be invisible to results.

join_3way picks between the direct join-then-aggregate plan (small
inputs: dims broadcast, fact never shuffles) and the staged
aggregate-below-join plan (large inputs: the fact is pre-reduced on the
join key before its first shuffle). The cutover is purely physical —
these tests force BOTH paths on the same data and assert identical
rows, and pin the plan shape each regime is expected to produce.
"""

from __future__ import annotations

import pytest

from conftest import SF_SMOKE
from healthcare_data_warehouse_spark import config
from healthcare_data_warehouse_spark.plans.catalog import queries


def _rows(df):
    return sorted(
        tuple(r) for r in df.collect()
    )


def test_join_3way_paths_bit_identical(spark, monkeypatch):
    q = queries()["join_3way"]
    direct = _rows(q(spark, SF_SMOKE))
    monkeypatch.setattr(config, "STAGED_JOIN_CUTOVER_BYTES", 0)
    staged = _rows(q(spark, SF_SMOKE))
    assert staged == direct  # bit-exact incl. the double revenue cast
    assert len(direct) > 0


def test_join_3way_staged_pre_reduces_before_shuffle(spark, monkeypatch):
    monkeypatch.setattr(config, "STAGED_JOIN_CUTOVER_BYTES", 0)
    q = queries()["join_3way"]
    plan = q(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    # the staged plan carries the per-order partial aggregate below the
    # orders join: its partial-agg columns appear in the plan
    assert "__cnt" in plan and "__rev" in plan
    # and lineitem's scan is still pruned to the 3 needed columns
    assert (
        "struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"
        in plan
    )


def test_join_3way_small_input_keeps_direct_plan(spark):
    q = queries()["join_3way"]
    plan = q(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    assert "__cnt" not in plan  # no staged partials below the cutover


def test_join_3way_ignores_materialized_bucketed_layout(spark):
    """join_3way plans from its input alone: with the order-bucketed
    layout materialized it still stamps its size regime and scans the
    source parquet, never the layout tables. The layout plan belongs to
    join_3way_bucketed, whose rows match join_3way's bit for bit."""
    from healthcare_data_warehouse_spark import decisions
    from healthcare_data_warehouse_spark.sources.bucketing import (
        ensure_order_bucketed_layout,
    )

    li_t, ord_t = ensure_order_bucketed_layout(spark, SF_SMOKE)
    qs = queries()

    decisions.drain()
    df = qs["join_3way"](spark, SF_SMOKE)
    assert decisions.drain()["join_3way"]["plan"] == "direct"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "li_bkt_" not in plan and "ord_bkt_" not in plan

    bucketed_df = qs["join_3way_bucketed"](spark, SF_SMOKE)
    bplan = bucketed_df._jdf.queryExecution().executedPlan().toString()
    assert li_t in bplan and ord_t in bplan  # the scan names its tables
    bucketed = _rows(bucketed_df)
    assert bucketed == _rows(df) and len(bucketed) > 0
