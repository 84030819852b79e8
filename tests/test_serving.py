"""Tests for the serving layer (budget enforcement + audit + limit)."""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F
import pytest

from healthcare_data_warehouse_spark.plans.serving import (
    BudgetExhaustedError,
    ParameterError,
    QueryService,
)
from healthcare_data_warehouse_spark.sources.audit import audit_log_path, read_audit_log

from conftest import SF_SMOKE


def test_run_query_with_limit_and_audit(spark):
    shutil.rmtree(audit_log_path(), ignore_errors=True)
    svc = QueryService(spark, SF_SMOKE, user="alice")
    df = svc.run("topk_diagnoses", limit=2)
    assert df.count() == 2
    log = read_audit_log(spark)
    rows = log.filter((F.col("table_name") == "topk_diagnoses")
                      & (F.col("user_name") == "alice")).collect()
    assert len(rows) == 1 and rows[0]["action_type"] == "READ"
    shutil.rmtree(audit_log_path(), ignore_errors=True)


def test_dp_budget_enforced(spark):
    shutil.rmtree(audit_log_path(), ignore_errors=True)
    svc = QueryService(spark, SF_SMOKE)
    # epsilon budget 1.0, each DP query costs 0.1 → 10 runs allowed
    for _ in range(10):
        svc.run("fn_laplace_noise").count()
    assert svc.budget.remaining < 1e-9
    with pytest.raises(BudgetExhaustedError):
        svc.run("fn_laplace_noise")
    # non-DP queries still served after exhaustion
    assert svc.run("point_lookup").count() == 1
    shutil.rmtree(audit_log_path(), ignore_errors=True)


def test_parameterized_queries(spark):
    svc = QueryService(spark, SF_SMOKE)
    # 1. point lookup by key: distinct params → distinct results
    assert svc.run("point_lookup", patient_key=7).collect()[0]["c_custkey"] == 7
    assert svc.run("point_lookup", patient_key=13).collect()[0]["c_custkey"] == 13
    # 2. patient history keyed off a real customer
    hist = svc.run("patient_history", patient_key=7).collect()
    assert all(r["o_orderkey"] is not None for r in hist)
    # 3. threshold + k: raising the threshold can only shrink the result
    lo = svc.run("topk_highcost", cost_threshold=100000.0, k=50).count()
    hi = svc.run("topk_highcost", cost_threshold=450000.0, k=50).count()
    assert hi <= lo
    # 4. date range bounds the output dates
    rows = svc.run("filter_date_range", date_from="1998-01-01",
                   date_to="1998-03-31").collect()
    assert rows and all("1998-01-01" <= str(r["visit_date"]) <= "1998-03-31"
                        for r in rows)


def test_parameter_injection_safety(spark):
    svc = QueryService(spark, SF_SMOKE)
    # Hostile strings must be rejected by type coercion, never reach a plan
    with pytest.raises(ParameterError):
        svc.run("point_lookup", patient_key="42 OR 1=1")
    with pytest.raises(ParameterError):
        svc.run("filter_date_range", date_from="1998-01-01' OR '1'='1")
    with pytest.raises(ParameterError):
        svc.run("topk_highcost", cost_threshold="1e9; DROP TABLE orders")
    # unknown parameter names are refused (no silent ignore)
    with pytest.raises(ParameterError):
        svc.run("point_lookup", nonsense=1)
    # bounds enforced
    with pytest.raises(ParameterError):
        svc.run("topk_diagnoses", k=0)


def test_dp_charge_at_execution_boundary(spark):
    shutil.rmtree(audit_log_path(), ignore_errors=True)
    svc = QueryService(spark, SF_SMOKE)
    df = svc.run("fn_laplace_noise")
    spent_after_one = svc.budget.spent
    # The noisy release is materialized under the charge: re-reading the
    # returned frame re-reads the SAME noise (no fresh draw per action)
    # and spends nothing further.
    a = [r["cost_with_privacy"] for r in df.collect()]
    b = [r["cost_with_privacy"] for r in df.collect()]
    assert a == b
    assert svc.budget.spent == spent_after_one
    # A failed parameter bind never charges (plan is built before charging)
    before = svc.budget.spent
    with pytest.raises(ParameterError):
        svc.run("point_lookup", patient_key="bogus")
    assert svc.budget.spent == before
    shutil.rmtree(audit_log_path(), ignore_errors=True)


def test_unknown_query_rejected(spark):
    svc = QueryService(spark, SF_SMOKE)
    with pytest.raises(KeyError):
        svc.run("no_such_query")
    assert "agg_by_agegroup" in svc.available_queries()


def test_gold_materialization_roundtrip(spark):
    import os

    from healthcare_data_warehouse_spark.config import SCRATCH_DIR
    from healthcare_data_warehouse_spark.plans.catalog import queries
    from healthcare_data_warehouse_spark.plans.gold import materialize_gold

    gold_dir = os.path.join(SCRATCH_DIR, "gold_test")
    shutil.rmtree(gold_dir, ignore_errors=True)
    manifest = materialize_gold(spark, SF_SMOKE, gold_dir,
                                queries=("agg_by_agegroup", "topk_diagnoses"))
    assert set(manifest["tables"]) == {"agg_by_agegroup", "topk_diagnoses"}
    # gold read equals a fresh computation
    live = {tuple(r) for r in queries()["agg_by_agegroup"](spark, SF_SMOKE).collect()}
    gold_df = spark.read.parquet(os.path.join(gold_dir, "agg_by_agegroup"))
    gold = {tuple(r) for r in gold_df.collect()}
    assert live == gold
    # dashboard read never scans the fact tables
    plan = gold_df._jdf.queryExecution().executedPlan().toString()
    assert "orders.parquet" not in plan and "customer.parquet" not in plan
    shutil.rmtree(gold_dir, ignore_errors=True)
