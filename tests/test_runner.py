"""End-to-end pipeline runner test (the master-DAG analog)."""

from __future__ import annotations

import json
import os
import shutil
import threading

import pytest

from healthcare_data_warehouse_spark import runner
from healthcare_data_warehouse_spark.config import SCRATCH_DIR
from healthcare_data_warehouse_spark.runner import run_pipeline
from healthcare_data_warehouse_spark.sources.audit import audit_log_path

from conftest import SF_SMOKE


def test_pipeline_end_to_end_and_rerun(spark):
    out = os.path.join(SCRATCH_DIR, "warehouse_test")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(audit_log_path(), ignore_errors=True)

    s1 = run_pipeline(spark, SF_SMOKE, out)
    assert s1["stages"]["dims"]["dim_customer_rows"] == 150
    assert s1["stages"]["fact"]["rows"] == 1500
    assert s1["stages"]["fact"]["noise_clamped_negative_rows"] == 0
    assert len(s1["stages"]["fact"]["partitions"]) >= 4
    assert set(s1["stages"]["privacy_audit"]) == {"k_anonymity", "l_diversity", "t_closeness"}
    assert s1["stages"]["ml"]["predictions"] == 1500
    assert s1["stages"]["audit_log"]["by_action"].get("LOAD") == 3

    # rerun: idempotent outputs (overwrite + upsert), audit appends
    s2 = run_pipeline(spark, SF_SMOKE, out)
    assert s2["stages"]["fact"]["rows"] == 1500
    assert s2["stages"]["ml"]["predictions"] == 1500      # upsert, not append
    assert s2["stages"]["audit_log"]["events"] == 6       # append-only trail

    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(audit_log_path(), ignore_errors=True)


# The SF_SMOKE summary the sequential runner produced, paths dropped:
# running the branches concurrently must not change a value or the key
# order (json.dumps keeps insertion order at every level).
SMOKE_SUMMARY = {"stages": {
    "dims": {"dim_customer_rows": 150, "dim_supplier_rows": 10},
    "fact": {"rows": 1500,
             "partitions": [1995, 1996, 1997, 1998, 1999, 2000, 2001],
             "noise_clamped_negative_rows": 0},
    "privacy_audit": {
        "k_anonymity": {"k": 5, "groups": 93, "violations": 1,
                        "min_group_size": 4, "passed": False},
        "l_diversity": {"l": 3, "groups": 93, "violations": 1,
                        "min_l": 2, "passed": False},
        "t_closeness": {"t": 0.2, "groups": 93, "violations": 47,
                        "max_tvd": 0.576, "passed": False},
    },
    "ml": {"predictions": 1500, "anomalies_flagged": 16},
    "audit_log": {"events": 3, "by_action": {"LOAD": 3}},
}}


def _fresh(name: str) -> str:
    out = os.path.join(SCRATCH_DIR, name)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(audit_log_path(), ignore_errors=True)
    return out


def test_pipeline_summary_is_pinned_and_releases_its_persists(spark):
    out = _fresh("warehouse_pinned")
    held = spark.sparkContext._jsc.getPersistentRDDs().size()
    s = run_pipeline(spark, SF_SMOKE, out)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == held
    assert list(s) == ["sf_dir", "out_dir", "stages"]
    assert (s.pop("sf_dir"), s.pop("out_dir")) == (SF_SMOKE, out)
    assert json.dumps(s) == json.dumps(SMOKE_SUMMARY)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(audit_log_path(), ignore_errors=True)


def test_branch_error_is_raised_after_the_other_branches_finish(spark, monkeypatch):
    def broken(*_a, **_kw):
        raise ValueError("audit input missing")

    monkeypatch.setattr(runner, "privacy_audit_report", broken)
    out = _fresh("warehouse_broken")
    with pytest.raises(ValueError, match="audit input missing"):
        run_pipeline(spark, SF_SMOKE, out)
    # the star and ML branches ran to their end before the raise
    assert os.path.exists(os.path.join(out, "fact_orders", "_SUCCESS"))
    assert spark.read.parquet(os.path.join(out, "ml_predictions")).count() == 1500
    assert [t.name for t in threading.enumerate()
            if t.name.startswith("hdw-dag")] == []
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(audit_log_path(), ignore_errors=True)
