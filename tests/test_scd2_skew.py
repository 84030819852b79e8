"""Tests for SCD2 dimension versioning and skew-salting operators."""

from __future__ import annotations

import pyspark.sql.functions as F

from healthcare_data_warehouse_spark.operators.scd2 import scd2_apply
from healthcare_data_warehouse_spark.operators.skew import explode_salted_agg, salted_join


def _dim(spark):
    rows = [
        (1, 10, "NYC", "2020-01-01", None, True),
        (2, 20, "LA", "2020-01-01", None, True),
        (3, 30, "SF", "2020-01-01", None, True),
    ]
    df = spark.createDataFrame(
        rows,
        "customer_key long, c_custkey long, city string, "
        "valid_from string, valid_to string, is_current boolean",
    )
    return df.withColumn("valid_from", F.col("valid_from").cast("timestamp")).withColumn(
        "valid_to", F.col("valid_to").cast("timestamp")
    )


def test_scd2_apply_versions(spark):
    dim = _dim(spark)
    updates = spark.createDataFrame(
        [(20, "CHI"), (30, "SF"), (40, "SEA")], ["c_custkey", "city"]
    )
    out = scd2_apply(dim, updates, nk="c_custkey", tracked=["city"],
                     key_col="customer_key", as_of="2021-06-01")
    rows = out.collect()
    by_nk = {}
    for r in rows:
        by_nk.setdefault(r["c_custkey"], []).append(r)

    # changed key 20: old version closed, new current version with new city
    v20 = sorted(by_nk[20], key=lambda r: r["is_current"])
    assert len(v20) == 2
    assert v20[0]["city"] == "LA" and not v20[0]["is_current"] and v20[0]["valid_to"] is not None
    assert v20[1]["city"] == "CHI" and v20[1]["is_current"] and v20[1]["valid_to"] is None

    # unchanged key 30: single current row, untouched
    assert len(by_nk[30]) == 1 and by_nk[30][0]["is_current"] and by_nk[30][0]["city"] == "SF"
    # untouched key 10 passes through
    assert len(by_nk[10]) == 1 and by_nk[10][0]["is_current"]
    # new key 40 inserted with a key beyond the previous max
    assert len(by_nk[40]) == 1
    assert by_nk[40][0]["customer_key"] > 3 and by_nk[40][0]["is_current"]
    # surrogate keys stay unique
    keys = [r["customer_key"] for r in rows if r["is_current"]]
    assert len(keys) == len(set(keys))


def test_scd2_apply_idempotent(spark):
    dim = _dim(spark)
    updates = spark.createDataFrame([(20, "CHI")], ["c_custkey", "city"])
    once = scd2_apply(dim, updates, nk="c_custkey", tracked=["city"],
                      key_col="customer_key", as_of="2021-06-01")
    twice = scd2_apply(once, updates, nk="c_custkey", tracked=["city"],
                       key_col="customer_key", as_of="2021-07-01")
    # second application of the same attributes changes nothing
    assert twice.count() == once.count()


def test_scd2_carries_untracked_attributes(spark):
    # the dimension has attributes the update batch doesn't carry — the
    # new version must inherit them from the closed version
    from healthcare_data_warehouse_spark.plans.star import dim_customer

    from conftest import SF_SMOKE

    dim = dim_customer(spark, SF_SMOKE)
    upd = dim.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", F.lit("CHANGED").alias("c_mktsegment")
    )
    out = scd2_apply(dim, upd, nk="c_custkey", tracked=["c_mktsegment"],
                     key_col="customer_key", as_of="2026-09-01")
    new_versions = out.filter(F.col("is_current") & (F.col("c_mktsegment") == "CHANGED"))
    assert new_versions.count() > 0
    assert new_versions.filter(F.col("anonymized_name").isNull()).count() == 0


def test_salted_join_equals_plain_join(spark):
    big = spark.range(0, 5000).select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
    small = spark.createDataFrame([(i, f"dim{i}") for i in range(7)], ["k", "name"])
    plain = big.join(small, "k").groupBy("name").count()
    salted = salted_join(big, small, on="k", salt_buckets=4).groupBy("name").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_explode_salted_agg_equals_plain(spark):
    df = spark.range(0, 10000).select(
        (F.col("id") % 3).cast("string").alias("k"),
        (F.col("id") % 100 / 7.0).alias("m"),
    )
    plain = df.groupBy("k").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("m").cast("decimal(18,4)")).cast("double").alias("total"),
    )
    salted = explode_salted_agg(df, "k", "m", salt_buckets=8)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_rejects_right_and_full(spark):
    import pytest

    big = spark.range(10).select(F.col("id").alias("k"))
    small = spark.range(3).select(F.col("id").alias("k"), F.lit("n").alias("name"))
    for how in ("right", "full", "full_outer", "outer"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(big, small, on="k", how=how)


def test_salted_join_left_preserves_unmatched_big_rows(spark):
    big = spark.range(10).select(F.col("id").alias("k"))
    small = spark.range(3).select(F.col("id").alias("k"), F.lit("n").alias("name"))
    got = salted_join(big, small, on="k", how="left")
    want = big.join(small, "k", "left")
    assert got.count() == want.count() == 10
    assert got.filter(F.col("name").isNull()).count() == 7


def test_hot_key_share_detects_skew(spark):
    from healthcare_data_warehouse_spark.operators.skew import (
        choose_salt_buckets,
        hot_key_share,
    )

    skewed = spark.createDataFrame(
        [("hot",)] * 900 + [(f"k{i}",) for i in range(100)], "k string")
    uniform = spark.createDataFrame(
        [(f"k{i % 50}",) for i in range(1000)], "k string")
    assert hot_key_share(skewed, "k", sample_fraction=0.5) > 0.5
    assert hot_key_share(uniform, "k", sample_fraction=0.5) < 0.1
    assert choose_salt_buckets(skewed, "k", sample_fraction=0.5) > 1
    assert choose_salt_buckets(uniform, "k", sample_fraction=0.5) == 1
    empty = spark.createDataFrame([], "k string")
    assert choose_salt_buckets(empty, "k") == 1


def test_auto_join_matches_plain_join(spark):
    from pyspark.sql import functions as F

    from healthcare_data_warehouse_spark.operators.skew import auto_join

    big = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [(f"k{i}", i) for i in range(50)],
        "k string, v int")
    small = spark.createDataFrame(
        [("hot", "H")] + [(f"k{i}", f"S{i}") for i in range(50)],
        "k string, tag string")
    auto = auto_join(big, small, "k", sample_fraction=0.5)
    plain = big.join(small, "k")
    assert auto.count() == plain.count() == 550
    assert auto.exceptAll(plain).count() == 0
    # Left join keeps unmatched big-side rows exactly once.
    small2 = small.filter(F.col("k") != "hot")
    left = auto_join(big, small2, "k", how="left", sample_fraction=0.5)
    assert left.count() == big.count()


def test_auto_join_decision_tree_regimes(spark):
    """auto_join's measured decision tree: broadcastable dim →
    plain_broadcast (no sampling); AQE skew split on → plain_aqe_skewjoin;
    both off → the sampled salted:N fallback, value-identical to plain."""
    from healthcare_data_warehouse_spark import decisions
    from healthcare_data_warehouse_spark.operators.skew import auto_join

    from conftest import SF_SMOKE
    from healthcare_data_warehouse_spark.sources.loaders import load_table

    big = spark.createDataFrame(
        [("hot", i) for i in range(900)] + [(f"k{i}", i) for i in range(100)],
        "k string, v int")
    small = spark.createDataFrame(
        [("hot", "H")] + [(f"k{i}", f"S{i}") for i in range(100)],
        "k string, tag string")

    # tier 1 needs real file stats (a local relation reports unknown
    # size and must NOT be assumed broadcastable): parquet-backed dim
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_suppkey", "l_extendedprice")
    sup = load_table(spark, SF_SMOKE, "supplier").select(
        "s_suppkey", "s_nationkey").withColumnRenamed("s_suppkey",
                                                      "l_suppkey")
    decisions.drain()
    auto_join(li, sup, "l_suppkey")
    assert (decisions.drain()["<anonymous>"]["auto_join[l_suppkey]"]
            == "plain_broadcast")

    # unknown-size small side skips the broadcast tier and trusts AQE
    decisions.drain()
    auto_join(big, small, "k", sample_fraction=0.5)
    assert (decisions.drain()["<anonymous>"]["auto_join[k]"]
            == "plain_aqe_skewjoin")

    conf = spark.conf
    old_s = conf.get("spark.sql.adaptive.skewJoin.enabled")
    try:
        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        salted = auto_join(big, small, "k", sample_fraction=0.5)
        tag = decisions.drain()["<anonymous>"]["auto_join[k]"]
        assert tag.startswith("salted:"), tag
        plain = big.join(small, "k")
        assert salted.count() == plain.count()
        assert salted.exceptAll(plain).count() == 0
    finally:
        conf.set("spark.sql.adaptive.skewJoin.enabled", old_s)


def test_auto_agg_hot_key_matches_plain(spark):
    """auto_agg resolves to the plain aggregate (map-side partials make
    collapsing count/sum skew-immune — measured plain 1.02 s vs salted
    1.32 s on the sf10skew 38%-hot key) and its output is identical on
    hot and uniform corpora; the hot-share detector itself still
    recognizes the 90% key (used by auto_join's AQE-less fallback)."""
    from healthcare_data_warehouse_spark.operators.skew import (
        auto_agg,
        choose_salt_buckets,
    )

    hot = spark.createDataFrame(
        [("hot", float(i % 97)) for i in range(900)]
        + [(f"k{i}", float(i)) for i in range(100)],
        "k string, m double")
    # the detector: 90% share >> 0.2 threshold
    assert choose_salt_buckets(hot, "k", sample_fraction=0.5) > 1

    got = {r["k"]: (r["cnt"], r["total"])
           for r in auto_agg(hot, "k", "m").collect()}
    want = {r["k"]: (r["cnt"], r["total"])
            for r in hot.groupBy("k").agg(
                F.count("*").alias("cnt"),
                F.sum(F.col("m").cast("decimal(18,4)"))
                .cast("double").alias("total")).collect()}
    assert got == want

    # uniform corpus: decision stays plain, output identical too
    uni = spark.createDataFrame(
        [(f"k{i % 40}", float(i)) for i in range(1000)], "k string, m double")
    assert choose_salt_buckets(uni, "k", sample_fraction=0.5) == 1
    got_u = {r["k"]: (r["cnt"], r["total"])
             for r in auto_agg(uni, "k", "m").collect()}
    want_u = {r["k"]: (r["cnt"], r["total"])
              for r in uni.groupBy("k").agg(
                  F.count("*").alias("cnt"),
                  F.sum(F.col("m").cast("decimal(18,4)"))
                  .cast("double").alias("total")).collect()}
    assert got_u == want_u


def test_make_skew_data_zipf_sampler():
    """The skew-fixture generator's Zipf reassignment: deterministic for
    a seed, every sampled key is a real customer key, and the rank-1 key
    holds ~1/zeta(1.5) = 38% of the orders — above auto_join's 0.2
    hot-share threshold, so the salted cutover engages on the fixture."""
    import os
    import sys

    import numpy as np

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    from make_skew_data import zipf_custkeys

    keys = np.arange(1000, 6000, dtype=np.int64)
    out = zipf_custkeys(keys, 50_000, 1.5, 7)
    assert set(np.unique(out)) <= set(keys)
    share = float((out == keys[0]).mean())
    assert 0.30 < share < 0.45  # ~1/zeta(1.5) = 0.383
    assert (zipf_custkeys(keys, 50_000, 1.5, 7) == out).all()
    # a different seed moves the sample, not the distribution
    share2 = float((zipf_custkeys(keys, 50_000, 1.5, 8) == keys[0]).mean())
    assert 0.30 < share2 < 0.45
