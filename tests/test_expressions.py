"""Unit tests for the Column-expression library.

Boundary values mirror the reference's bucket edges
(scripts/etl.py:49-62: 18/35/50/65) and the DP noise contract
(scripts/etl.py:65-72: Laplace scale = sensitivity/epsilon, clamp >= 0).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from healthcare_data_warehouse_spark.functions.expressions import (
    age_bucket,
    age_years,
    anonymize,
    hash_uniform,
    laplace_noise_hash,
    olaplace_noise,
    round2,
    visit_cohort,
    with_privacy_noise_hash,
)


def test_age_bucket_boundaries(spark):
    ages = [(None,), (0,), (17,), (18,), (34,), (35,), (49,), (50,), (64,), (65,), (99,)]
    df = spark.createDataFrame(ages, ["age"]).select(age_bucket("age").alias("g"))
    got = [r["g"] for r in df.collect()]
    assert got == [
        "Unknown",
        "Child (0-17)",
        "Child (0-17)",
        "Young Adult (18-34)",
        "Young Adult (18-34)",
        "Adult (35-49)",
        "Adult (35-49)",
        "Middle-Aged (50-64)",
        "Middle-Aged (50-64)",
        "Senior (65+)",
        "Senior (65+)",
    ]


def test_age_years_birthday_edges(spark):
    # as_of fixed at 2026-08-13: birthday on/before the 13th has passed.
    rows = [("2000-08-13",), ("2000-08-14",), ("2000-08-12",), ("2000-01-01",), ("2000-12-31",)]
    df = spark.createDataFrame(rows, ["dob"]).select(
        age_years(F.col("dob").cast("date")).alias("age")
    )
    got = [r["age"] for r in df.collect()]
    assert got == [26, 25, 26, 26, 25]


def test_visit_cohort_edges(spark):
    df = spark.createDataFrame([(1,), (2,), (3,), (4,), (5,), (6,), (40,)], ["n"])
    got = [r["c"] for r in df.select(visit_cohort("n").alias("c")).collect()]
    assert got == ["1 visit", "2-3 visits", "2-3 visits", "4-5 visits", "4-5 visits",
                   "6+ visits", "6+ visits"]


def test_anonymize_is_sha256(spark):
    import hashlib

    df = spark.createDataFrame([("Alice Smith",)], ["name"])
    got = df.select(anonymize("name").alias("h")).collect()[0]["h"]
    assert got == hashlib.sha256(b"Alice Smith").hexdigest()


def test_laplace_noise_hash_statistics(spark):
    # Same Laplace(0, b=10) contract as the rand-seeded variant, but the
    # uniform comes from md5 bits, so values are a pure function of the key.
    n = 20000
    df = spark.range(n).select(laplace_noise_hash("id", epsilon=0.1, sensitivity=1.0).alias("x"))
    stats = df.agg(
        F.avg(F.abs(F.col("x"))).alias("mean_abs"), F.avg("x").alias("mean")
    ).collect()[0]
    assert abs(stats["mean_abs"] - 10.0) < 1.0
    assert abs(stats["mean"]) < 1.0


def test_laplace_noise_hash_partition_invariant(spark):
    # Keyed noise must not depend on partitioning — the property F.rand(seed)
    # lacks and the reason the hash variant is oracle-checkable.
    a = spark.range(1000).repartition(1).select("id", laplace_noise_hash("id").alias("x"))
    b = spark.range(1000).repartition(13).select("id", laplace_noise_hash("id").alias("x"))
    ma = {r["id"]: r["x"] for r in a.collect()}
    mb = {r["id"]: r["x"] for r in b.collect()}
    assert ma == mb


def test_laplace_noise_hash_matches_duckdb(spark):
    # Oracle-parity contract: the md5-derived uniform is bit-identical across
    # engines; ln() may differ by a few ulps (~1e-13 abs at scale=10), so the
    # hash-green catalog queries round to 2dp first. Assert both halves:
    # raw values agree to well under the rounding grain, and the rounded
    # values (what the driver hashes) agree exactly.
    import duckdb

    keys = list(range(500))
    df = spark.createDataFrame([(k,) for k in keys], ["k"]).select(
        "k", laplace_noise_hash("k").alias("x"), round2(laplace_noise_hash("k")).alias("r")
    )
    got = {r["k"]: (r["x"], r["r"]) for r in df.collect()}
    con = duckdb.connect()
    frag = olaplace_noise("k")
    want = {
        k: (x, r)
        for k, x, r in con.execute(
            f"SELECT k, {frag} AS x, floor(({frag}) * 100 + 0.5) / 100 AS r"
            " FROM (SELECT unnest(range(500)) AS k)"
        ).fetchall()
    }
    assert all(abs(got[k][0] - want[k][0]) < 1e-9 for k in got)
    assert all(got[k][1] == want[k][1] for k in got)


def test_hash_uniform_in_open_unit_interval(spark):
    df = spark.range(20000).select(hash_uniform("id").alias("u"))
    row = df.agg(F.min("u").alias("lo"), F.max("u").alias("hi")).collect()[0]
    assert 0.0 < row["lo"] and row["hi"] < 1.0


def test_privacy_noise_clamped_nonnegative(spark):
    df = spark.range(5000).select("id", (F.col("id") % 3).cast("double").alias("cost"))
    noised = df.select(with_privacy_noise_hash("cost", "id").alias("c"))
    assert noised.filter(F.col("c") < 0).count() == 0


def test_round2_matches_duckdb_floor_semantics(spark):
    import duckdb

    vals = [4201.315, 2.675, 0.005, 123.456, -1.005, 99.995]
    df = spark.createDataFrame([(v,) for v in vals], ["x"])
    got = [r["r"] for r in df.select(round2(F.col("x")).alias("r")).collect()]
    con = duckdb.connect()
    want = [
        con.execute(f"SELECT floor(CAST({v!r} AS DOUBLE) * 100 + 0.5) / 100").fetchone()[0]
        for v in vals
    ]
    assert got == want
