"""tools/explain_audit.py: its single-partition-window audit on formatted
plan snippets (it flags the exchange EnsureRequirements plans for an
unpartitioned window spec, not a keyed window over a width-1
repartition), and sections that regenerate byte for byte."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

from conftest import SF_SMOKE  # noqa: E402
from explain_audit import (  # noqa: E402
    REPO, _has_single_partition_window, query_section)


def _plan(arguments: str) -> str:
    return f"""== Physical Plan ==
AdaptiveSparkPlan (6)
+- Project (5)
   +- Window (4)
      +- Sort (3)
         +- Exchange (2)
            +- Scan parquet  (1)


(1) Scan parquet
Output [2]: [k#1L, v#2]

(2) Exchange
Input [2]: [k#1L, v#2]
Arguments: {arguments}, [plan_id=489]

(3) Sort
Input [2]: [k#1L, v#2]
Arguments: [k#1L ASC NULLS FIRST], false, 0

(4) Window
Input [2]: [k#1L, v#2]
Arguments: [row_number() windowspecdefinition(k#1L ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS rn#3], [k#1L ASC NULLS FIRST]

(5) Project
Output [3]: [k#1L, v#2, rn#3]
Input [3]: [k#1L, v#2, rn#3]

(6) AdaptiveSparkPlan
Output [3]: [k#1L, v#2, rn#3]
Arguments: isFinalPlan=false
"""


def test_unpartitioned_window_spec_is_flagged():
    assert _has_single_partition_window(
        _plan("SinglePartition, ENSURE_REQUIREMENTS"))


def test_width_one_repartition_under_a_window_is_not_flagged():
    assert not _has_single_partition_window(
        _plan("SinglePartition, REPARTITION_BY_NUM"))
    assert not _has_single_partition_window(
        _plan("hashpartitioning(k#1L, 200), ENSURE_REQUIREMENTS"))


def test_a_regenerated_section_is_byte_identical(spark):
    """Two plannings of one query differ in expression ids and exchange
    plan ids; the printed section must not, so that a diff of
    docs/EXPLAINS.md shows only plan changes."""
    import re

    from healthcare_data_warehouse_spark.plans import catalog

    q = catalog.queries()["agg_by_agegroup"]
    first, second = ("\n".join(query_section("agg_by_agegroup",
                                             q(spark, SF_SMOKE)))
                     for _ in range(2))
    assert first == second
    assert "Exchange" in first and "plan_id=N" in first
    assert not re.search(r"#\d|plan_id=\d|RDD\[\d", first)
    assert REPO not in first


def test_lambda_names_do_not_leak_into_a_section(spark):
    """PySpark names each lambda variable of ``zip_with``/``aggregate``
    from a JVM-global counter (``lambda x_3#``), so the second build of a
    query in one session prints other names than the first. The section
    must not depend on what the session built before it."""
    import re

    from healthcare_data_warehouse_spark.plans import catalog

    q = catalog.queries()["knn_join_exact"]
    first, second = ("\n".join(query_section("knn_join_exact",
                                             q(spark, SF_SMOKE)))
                     for _ in range(2))
    assert first == second
    assert "lambda x_N#" in first
    assert not re.search(r"lambda [A-Za-z]+_\d", first)
