"""Tests for distributed dense surrogate keys (operators.keys).

The scale-safe two-phase implementation must be bit-identical to
ROW_NUMBER() OVER (ORDER BY ...) — the reference's key scheme
(dim_patients.sql:35) — without ever collapsing to a single task.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from healthcare_data_warehouse_spark.operators.keys import add_dense_key


def test_dense_key_matches_global_row_number(spark):
    df = spark.range(0, 10000).select(
        (F.col("id") * 37 % 9973).alias("k"), F.col("id").alias("payload")
    )
    # k is not unique → total order needs the tiebreak column.
    keyed = add_dense_key(df, ["k", "payload"], key_col="sk", num_partitions=16)
    w = Window.orderBy("k", "payload")
    expected = df.withColumn("sk_expected", F.row_number().over(w))
    joined = keyed.join(expected, ["k", "payload"])
    assert joined.filter(F.col("sk") != F.col("sk_expected")).count() == 0


def test_dense_key_is_dense_and_offset(spark):
    df = spark.range(0, 500).select(F.col("id").alias("k"))
    keyed = add_dense_key(df, ["k"], key_col="sk", offset=1000, num_partitions=8)
    rows = keyed.agg(
        F.min("sk").alias("lo"), F.max("sk").alias("hi"), F.countDistinct("sk").alias("n")
    ).collect()[0]
    assert (rows["lo"], rows["hi"], rows["n"]) == (1001, 1500, 500)


def test_dense_key_does_not_single_partition(spark):
    df = spark.range(0, 2000).select(F.col("id").alias("k"))
    keyed = add_dense_key(df, ["k"], key_col="sk", num_partitions=8)
    # the physical plan must not contain a global (empty-frame) window sort
    plan = keyed._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_dense_key_refuses_to_renumber_after_its_persist_is_released(spark):
    """The offsets are counted once, on the persisted range partitions.
    Planned again without that persist, the range exchange samples new
    bounds, so the old offsets would give wrong keys; the operator must
    fail loudly instead."""
    import pytest

    from healthcare_data_warehouse_spark.operators.keys import release

    df = spark.range(0, 5000, numPartitions=4).select(
        (F.col("id") * 7919 % 5000).alias("k"))
    pins: list = []
    keyed = add_dense_key(df, ["k"], key_col="sk", num_partitions=8, pins=pins)
    release(pins)
    with pytest.raises(Exception, match="add_dense_key"):
        keyed.select("k", "sk").collect()
