"""Tests for operators.privacy (k-anon / l-div / t-closeness / transforms /
budget) — semantics from privacy_engine.py (reference thresholds k=5, l=3,
t=0.2, epsilon budget 1.0)."""

from __future__ import annotations

import pyspark.sql.functions as F

from healthcare_data_warehouse_spark.operators.privacy import (
    PrivacyBudget,
    generalize_numeric,
    k_anonymity_report,
    l_diversity_report,
    suppress_small_groups,
    t_closeness_report,
)


def test_k_anonymity_flags_small_groups(spark):
    rows = [("A", 1)] * 6 + [("B", 2)] * 2
    df = spark.createDataFrame(rows, ["seg", "band"])
    rep = {r["seg"]: r for r in k_anonymity_report(df, ["seg", "band"], k=5).collect()}
    assert not rep["A"]["is_violation"] and rep["A"]["group_size"] == 6
    assert rep["B"]["is_violation"] and rep["B"]["group_size"] == 2


def test_l_diversity(spark):
    rows = [("A", "flu"), ("A", "flu"), ("A", "cold"), ("A", "covid"), ("B", "flu"), ("B", "flu")]
    df = spark.createDataFrame(rows, ["seg", "dx"])
    rep = {r["seg"]: r for r in l_diversity_report(df, ["seg"], "dx", l=3).collect()}
    assert rep["A"]["l_distinct"] == 3 and not rep["A"]["is_violation"]
    assert rep["B"]["l_distinct"] == 1 and rep["B"]["is_violation"]


def test_t_closeness_zero_for_identical_distributions(spark):
    # both groups have the exact global distribution → TVD 0 everywhere
    rows = [("A", "x"), ("A", "y"), ("B", "x"), ("B", "y")]
    df = spark.createDataFrame(rows, ["seg", "dx"])
    rep = t_closeness_report(df, "seg", "dx").collect()
    assert all(abs(r["tvd"]) < 1e-12 and not r["is_violation"] for r in rep)


def test_t_closeness_detects_skewed_group(spark):
    rows = [("A", "x")] * 9 + [("A", "y")] + [("B", "y")] * 10
    df = spark.createDataFrame(rows, ["seg", "dx"])
    rep = {r["seg"]: r for r in t_closeness_report(df, "seg", "dx", t=0.2).collect()}
    # global: x=0.45, y=0.55. A: x=0.9,y=0.1 → TVD=0.45; B: y=1.0 → TVD=0.45
    assert abs(rep["A"]["tvd"] - 0.45) < 1e-9 and rep["A"]["is_violation"]
    assert abs(rep["B"]["tvd"] - 0.45) < 1e-9 and rep["B"]["is_violation"]


def test_suppression_masks_small_groups(spark):
    rows = [("A", 1, i) for i in range(6)] + [("B", 2, 99)]
    df = spark.createDataFrame(rows, ["seg", "band", "id"])
    out = suppress_small_groups(df, ["seg", "band"], k=5).collect()
    b_row = next(r for r in out if r["id"] == 99)
    assert b_row["seg"] == "*" and b_row["band"] is None
    a_rows = [r for r in out if r["id"] != 99]
    assert all(r["seg"] == "A" and r["band"] == 1 for r in a_rows)


def test_generalize_numeric(spark):
    df = spark.createDataFrame([(1234.56,), (-10.0,)], ["x"])
    got = [r["g"] for r in df.select(generalize_numeric("x", 1000).alias("g")).collect()]
    assert got == [1000.0, -1000.0]


def test_privacy_budget_ledger():
    b = PrivacyBudget(max_epsilon=1.0)
    assert b.charge("q1", 0.5) and b.charge("q2", 0.5)
    assert not b.charge("q3", 0.1)
    assert b.remaining < 1e-12
    assert [name for name, _ in b.ledger] == ["q1", "q2"]


def test_t_closeness_multi_qi_catches_finer_violations(spark):
    # Each single QI column splits the data into groups matching the
    # global distribution, but the (qi1, qi2) equivalence classes are
    # perfectly skewed — the reference's full-QI EMD flags them, a
    # single-column audit would not (ADVICE r01).
    rows = (
        [("A", "u", "x")] * 10 + [("A", "v", "y")] * 10
        + [("B", "u", "y")] * 10 + [("B", "v", "x")] * 10
    )
    df = spark.createDataFrame(rows, ["q1", "q2", "dx"])
    single_q1 = t_closeness_report(df, "q1", "dx", t=0.2).collect()
    assert all(not r["is_violation"] for r in single_q1)
    single_q2 = t_closeness_report(df, "q2", "dx", t=0.2).collect()
    assert all(not r["is_violation"] for r in single_q2)
    multi = t_closeness_report(df, ["q1", "q2"], "dx", t=0.2).collect()
    assert len(multi) == 4
    assert all(r["is_violation"] and abs(r["tvd"] - 0.5) < 1e-9 for r in multi)


def test_privacy_audit_report_uses_full_qi_tuple(spark):
    from healthcare_data_warehouse_spark.operators.privacy import privacy_audit_report

    rows = (
        [("A", "u", "x")] * 10 + [("A", "v", "y")] * 10
        + [("B", "u", "y")] * 10 + [("B", "v", "x")] * 10
    )
    df = spark.createDataFrame(rows, ["q1", "q2", "dx"])
    rep = privacy_audit_report(df, ["q1", "q2"], "dx")
    assert rep["t_closeness"]["violations"] == 4  # all 4 equivalence classes
    assert not rep["t_closeness"]["passed"]


def test_privacy_audit_report_equals_the_public_reports(spark):
    """The one-pass audit gives exactly what the three public report
    frames give, with null QI values, null sensitive values and a QI
    group that lacks some sensitive categories."""
    from healthcare_data_warehouse_spark.operators.privacy import privacy_audit_report

    rows = (
        [("A", 1, "x")] * 6 + [("A", 1, "y")] * 2          # no "z"
        + [("A", 2, "x"), ("A", 2, None)] + [("A", 2, "z")] * 3
        + [(None, 1, "y")] * 4 + [(None, 1, None)]          # null QI
        + [("B", None, "z")] * 2 + [("B", None, "x")]
        + [("B", 3, "y")] * 5 + [("B", 3, "x"), ("B", 3, "z")]
        + [(None, None, None)]
    )
    df = spark.createDataFrame(rows, "q1 string, q2 int, dx string")
    qi = ["q1", "q2"]
    k = k_anonymity_report(df, qi, k=5).collect()
    lv = l_diversity_report(df, qi, "dx", l=3).collect()
    t = t_closeness_report(df, qi, "dx", t=0.2).collect()

    def summary(rep, col, worst):
        v = sum(r["is_violation"] for r in rep)
        return len(rep), v, worst(r[col] for r in rep), v == 0

    kg, kv, kmin, kok = summary(k, "group_size", min)
    lg, lvv, lmin, lok = summary(lv, "l_distinct", min)
    tg, tv, tmax, tok = summary(t, "tvd", max)
    want = {
        "k_anonymity": {"k": 5, "groups": kg, "violations": kv,
                        "min_group_size": kmin, "passed": kok},
        "l_diversity": {"l": 3, "groups": lg, "violations": lvv,
                        "min_l": lmin, "passed": lok},
        "t_closeness": {"t": 0.2, "groups": tg, "violations": tv,
                        "max_tvd": tmax, "passed": tok},
    }
    assert kg == 6 and kmin == 1  # the null QI tuples are groups too
    assert privacy_audit_report(df, qi, "dx", k=5, l=3, t=0.2) == want


def test_t_closeness_report_builds_without_a_job(spark):
    """The row total is in-plan, so building the frame runs no job."""
    df = spark.createDataFrame([("A", "x"), ("B", "y")], ["seg", "dx"])
    sc = spark.sparkContext
    sc.setJobGroup("t-closeness-build", "build only")
    try:
        rep = t_closeness_report(df, "seg", "dx")
        assert sc.statusTracker().getJobIdsForGroup("t-closeness-build") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(r["tvd"] for r in rep.collect()) == [0.5, 0.5]
