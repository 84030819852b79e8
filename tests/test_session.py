"""The engine's session: no per-Column call-site capture, and errors
that still name what went wrong."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException


def test_call_site_capture_is_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_missing_column_still_names_the_column(spark):
    df = spark.range(3)
    with pytest.raises(AnalysisException) as err:
        df.select("no_such_column")
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN")
    assert "no_such_column" in str(err.value)
