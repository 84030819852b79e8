"""Privacy-audit operators: k-anonymity, l-diversity, t-closeness,
suppression/generalization, and epsilon-budget accounting.

Reference: the pandas privacy engine (privacy_engine.py) — groupby.size
for k-anonymity (:47-75), nunique for l-diversity (:125-160), a simplified
EMD/total-variation distance for t-closeness (:168-220), suppression and
generalization transforms (:77-122), and a session epsilon budget
(:291-318).

All audits are pure DataFrame aggregations: one shuffle on the
quasi-identifier columns each (the full audit derives all three from one
(QI, sensitive) pair-count aggregate); the t-closeness grid is built with
a cross join of two *aggregated* (tiny) relations, never the raw data.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import K_ANONYMITY, L_DIVERSITY, PRIVACY_BUDGET_MAX_EPSILON, T_CLOSENESS


def k_anonymity_report(df: DataFrame, qi_cols: list[str | Column],
                       k: int = K_ANONYMITY) -> DataFrame:
    """Group sizes over the quasi-identifiers + violation flag
    (privacy_engine.py:47-75)."""
    return (
        df.groupBy(*qi_cols)
        .agg(F.count("*").alias("group_size"))
        .withColumn("is_violation", F.col("group_size") < k)
    )


def l_diversity_report(df: DataFrame, qi_cols: list[str], sensitive: str,
                       l: int = L_DIVERSITY) -> DataFrame:  # noqa: E741
    """Distinct sensitive values per QI group + violation flag
    (privacy_engine.py:125-160)."""
    return (
        df.groupBy(*qi_cols)
        .agg(F.countDistinct(sensitive).alias("l_distinct"))
        .withColumn("is_violation", F.col("l_distinct") < l)
    )


def _pair_counts(df: DataFrame, qi_cols: list[str], sensitive: str) -> DataFrame:
    """Rows per (quasi-identifier tuple, sensitive value): column ``c``.
    t-closeness and the full audit are functions of this one aggregate."""
    return df.groupBy(*qi_cols, sensitive).agg(F.count("*").alias("c"))


def _tvd_by_group(pairs: DataFrame, qi: list[str], sensitive: str) -> DataFrame:
    """Per-QI-group ``tvd`` from ``_pair_counts`` output.

    TVD = ½ Σ|p - q| over the full category grid (missing categories
    count as p=0, hence the aggregated cross join — global_dist is bounded
    by the sensitive attribute's cardinality, so its broadcast is safe at
    any data scale). The row total is an in-plan scalar, as in the
    oracle's ``(SELECT count(*) ...)``, so building the frame runs no
    job. The per-category |p-q| terms are accumulated in DECIMAL so the
    distributed sum is bit-reproducible (see functions.expressions.dsum).
    """
    total = pairs.agg(F.sum("c").alias("__total"))
    global_dist = (
        pairs.groupBy(sensitive).agg(F.sum("c").alias("__n"))
        .crossJoin(total)
        .select(sensitive, (F.col("__n").cast("double") / F.col("__total")).alias("q"))
    )
    group_sizes = pairs.groupBy(*qi).agg(F.sum("c").alias("seg_n"))
    grid = (
        group_sizes.crossJoin(F.broadcast(global_dist))
        .join(pairs, [*qi, sensitive], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
        .withColumn("p", F.col("c").cast("double") / F.col("seg_n"))
    )
    term = F.abs(F.col("p") - F.col("q")).cast("decimal(18,12)")
    return grid.groupBy(*qi).agg((F.sum(term).cast("double") / 2).alias("tvd"))


def t_closeness_report(df: DataFrame, qi_cols: str | list[str], sensitive: str,
                       t: float = T_CLOSENESS) -> DataFrame:
    """Total-variation distance between each equivalence class's
    sensitive-value distribution and the global one
    (privacy_engine.py:168-220).

    ``qi_cols`` may be one column or the FULL quasi-identifier list — the
    reference computes EMD per equivalence class over all QIs, and
    single-column groups are coarser (their distributions sit closer to
    the global one), which under-reports violations.
    """
    qi = [qi_cols] if isinstance(qi_cols, str) else list(qi_cols)
    return (
        _tvd_by_group(_pair_counts(df, qi, sensitive), qi, sensitive)
        .withColumn("is_violation", F.col("tvd") > t)
    )


def suppress_small_groups(df: DataFrame, qi_cols: list[str],
                          k: int = K_ANONYMITY) -> DataFrame:
    """Suppression transform (privacy_engine.py:77-99): mask the QI values
    of rows whose QI group has fewer than k members — string QIs become
    '*', numeric QIs become NULL. One shuffle to size the groups, then a
    broadcast-able join of the (small) violating-group list back onto the
    data."""
    sizes = df.groupBy(*qi_cols).agg(F.count("*").alias("__grp_cnt"))
    joined = df.join(sizes, qi_cols, "left")
    out = joined
    for c in qi_cols:
        dtype = dict(df.dtypes)[c]
        masked = F.lit("*") if dtype == "string" else F.lit(None).cast(dtype)
        out = out.withColumn(c, F.when(F.col("__grp_cnt") < k, masked).otherwise(F.col(c)))
    return out.drop("__grp_cnt")


def generalize_numeric(col: Column | str, width: float) -> Column:
    """Generalization transform (privacy_engine.py:101-122): coarsen a
    numeric to its band lower-bound."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.floor(c / width) * F.lit(width)).cast("double")


def privacy_audit_report(df: DataFrame, qi_cols: list[str], sensitive: str,
                         k: int = K_ANONYMITY, l: int = L_DIVERSITY,  # noqa: E741
                         t: float = T_CLOSENESS) -> dict:
    """Full privacy audit as a JSON-able dict (privacy_engine.py:321-400's
    report shape): k-anonymity, l-diversity, and t-closeness summaries
    with violation counts and worst offenders.

    One pass: group sizes (k), distinct non-null sensitive values (l) and
    the TVD grid (t) all derive from one (QI, sensitive) pair-count
    aggregate, and the three summaries come back in one ``collect``. The
    values equal the ones the three public report frames give.
    """
    pairs = _pair_counts(df, qi_cols, sensitive)
    groups = pairs.groupBy(*qi_cols).agg(
        F.sum("c").alias("group_size"),
        F.count(sensitive).alias("l_distinct"),
    )
    kl = groups.agg(
        F.count("*").alias("groups"),
        F.count_if(F.col("group_size") < k).alias("k_violations"),
        F.min("group_size").alias("min_group_size"),
        F.count_if(F.col("l_distinct") < l).alias("l_violations"),
        F.min("l_distinct").alias("min_l"),
    )
    # Full QI tuple, matching the reference's per-equivalence-class EMD
    # (privacy_engine.py:168-220) — single-column groups are coarser and
    # would under-report violations.
    tc = _tvd_by_group(pairs, qi_cols, sensitive).agg(
        F.count("*").alias("t_groups"),
        F.count_if(F.col("tvd") > t).alias("t_violations"),
        F.max("tvd").alias("max_tvd"),
    )
    r = kl.crossJoin(tc).collect()[0]
    return {
        "k_anonymity": {"k": k, "groups": r["groups"],
                        "violations": r["k_violations"],
                        "min_group_size": r["min_group_size"],
                        "passed": r["k_violations"] == 0},
        "l_diversity": {"l": l, "groups": r["groups"],
                        "violations": r["l_violations"],
                        "min_l": r["min_l"],
                        "passed": r["l_violations"] == 0},
        "t_closeness": {"t": t, "groups": r["t_groups"],
                        "violations": r["t_violations"],
                        "max_tvd": float(r["max_tvd"] or 0.0),
                        "passed": r["t_violations"] == 0},
    }


@dataclass
class PrivacyBudget:
    """Session-level epsilon accounting (privacy_engine.py:291-318).

    Plain Python, not a Catalyst rule (SURVEY.md §4): charge before
    running a noise query; refuse when the budget is exhausted.
    """

    max_epsilon: float = PRIVACY_BUDGET_MAX_EPSILON
    spent: float = 0.0
    ledger: list[tuple[str, float]] = field(default_factory=list)

    def charge(self, query_name: str, epsilon: float) -> bool:
        if self.spent + epsilon > self.max_epsilon + 1e-12:
            return False
        self.spent += epsilon
        self.ledger.append((query_name, epsilon))
        return True

    def refund(self, query_name: str, epsilon: float) -> None:
        """Roll back a charge whose query failed before releasing any data
        (the noisy result was never materialized, so no privacy was
        spent)."""
        self.spent = max(0.0, self.spent - epsilon)
        self.ledger.append((query_name, -epsilon))

    @property
    def remaining(self) -> float:
        return self.max_epsilon - self.spent
