"""CDC operator tests: keyed snapshot diff + row-level change feed."""

from __future__ import annotations

import pytest

from healthcare_data_warehouse_spark.operators.cdc import table_diff


@pytest.fixture()
def states(spark):
    old = spark.createDataFrame(
        [
            (1, 10.0, "a"),       # unchanged -> dropped from the diff
            (2, 20.0, "b"),       # value update (both cols)
            (3, 30.0, None),      # null -> value update (null-safe)
            (4, 40.0, "d"),       # deleted
            (5, None, "e"),       # value -> null update
        ],
        "k long, amount double, tag string",
    )
    new = spark.createDataFrame(
        [
            (1, 10.0, "a"),
            (2, 21.0, "b2"),
            (3, 30.0, "c"),
            (5, None, None),
            (6, 60.0, "f"),       # inserted
        ],
        "k long, amount double, tag string",
    )
    return old, new


def test_table_diff_classifies_changes(spark, states):
    old, new = states
    rows = {r.k: r for r in table_diff(old, new, ["k"]).collect()}
    assert set(rows) == {2, 3, 4, 5, 6}          # 1 (no change) dropped
    assert rows[6].change_type == "insert" and rows[6].changed_cols == ""
    assert rows[4].change_type == "delete" and rows[4].changed_cols == ""
    assert rows[2].change_type == "update"
    assert rows[2].changed_cols == "amount,tag"  # compare_cols order
    assert rows[3].change_type == "update" and rows[3].changed_cols == "tag"
    assert rows[5].change_type == "update" and rows[5].changed_cols == "tag"


def test_table_diff_compare_subset_and_validation(spark, states):
    old, new = states
    # comparing only `amount`: tag-only changes (3, 5) become no-ops
    rows = {r.k: r for r in
            table_diff(old, new, ["k"], compare_cols=["amount"]).collect()}
    assert set(rows) == {2, 4, 6}
    with pytest.raises(ValueError, match="absent from new side"):
        table_diff(old, new.drop("tag"), ["k"], compare_cols=["tag"])
