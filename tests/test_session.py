"""The engine's session: no per-Column call-site capture, errors that
still name what went wrong, and ``tune_session`` repairing a session
whose runtime confs drifted."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from healthcare_data_warehouse_spark.session import runtime_confs, tune_session


def test_call_site_capture_is_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_missing_column_still_names_the_column(spark):
    df = spark.range(3)
    with pytest.raises(AnalysisException) as err:
        df.select("no_such_column")
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN")
    assert "no_such_column" in str(err.value)


def test_tune_session_restores_every_runtime_conf(spark):
    want = runtime_confs(spark.sparkContext.defaultParallelism)
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    finally:
        tune_session(spark)
    assert {k: spark.conf.get(k) for k in want} == want
