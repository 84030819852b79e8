"""tools/explain_audit.py's single-partition-window audit on formatted
plan snippets: it flags the exchange EnsureRequirements plans for an
unpartitioned window spec, not a keyed window over a width-1
repartition."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

from explain_audit import _has_single_partition_window  # noqa: E402


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
