"""Incremental aggregate maintenance: partial states that merge.

The 100 TB ETL pattern the reference's full-refresh dbt models
(dbt_project/models — every run re-aggregates the whole warehouse) can't
afford: aggregate each arriving load ONCE into a compact per-key partial
state (count / decimal-exact sum / min / max), persist it, and answer
"aggregate over everything so far" by merging states — history is never
rescanned.

Algebra: every state column is a commutative monoid —
``cnt ⊕ = sum``, ``sum ⊕ = sum``, ``min ⊕ = min``, ``max ⊕ = max`` — so
``merge(partial(A), partial(B)) == partial(A ∪ B)`` exactly (sums
accumulate in DECIMAL(18,4), so even the float-order hazard is gone; see
``functions.expressions.dsum``). AVG is deliberately NOT a state column:
it doesn't merge. It is derived at read time in ``finalize``.

Plan shape: ``partial_agg`` is one map-side-combining groupBy over just
the new load; ``merge_states`` unions state frames (each ≤ |keys| rows)
and re-aggregates — the shuffle is state-sized, not data-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expressions import dec_sum


def partial_agg(df: DataFrame, keys: list[str], measure: str) -> DataFrame:
    """Aggregate one load into its mergeable per-key state."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("cnt"),
        dec_sum(measure).alias("sum_dec"),
        F.min(measure).alias("min_v"),
        F.max(measure).alias("max_v"),
    )


def merge_states(*states: DataFrame) -> DataFrame:
    """Merge partial states (same keys/measure): union + monoid re-agg."""
    if not states:
        raise ValueError("merge_states: nothing to merge")
    keys = [c for c in states[0].columns
            if c not in ("cnt", "sum_dec", "min_v", "max_v")]
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.groupBy(*keys).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_dec").alias("sum_dec"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


def finalize(state: DataFrame) -> DataFrame:
    """Derive the non-mergeable outputs (sum as double, avg) at read time."""
    keys = [c for c in state.columns
            if c not in ("cnt", "sum_dec", "min_v", "max_v")]
    return state.select(
        *keys,
        F.col("cnt").alias("n"),
        F.col("sum_dec").cast("double").alias("sum_v"),
        # double-divide the double-cast exact sum (not decimal division):
        # bit-identical to the oracle's CAST(sum(...) AS DOUBLE)/count(*).
        (F.col("sum_dec").cast("double") / F.col("cnt")).alias("avg_v"),
        "min_v",
        "max_v",
    )


def refresh_state_from_diff(old_state: DataFrame, new_table: DataFrame,
                            diff: DataFrame, keys: list[str],
                            measure: str) -> DataFrame:
    """CDC-driven aggregate maintenance: bring a persisted state up to
    date for exactly the keys a change feed touched.

    min/max don't invert (you can't subtract a deleted row out of a
    max), so instead of differential updates the affected KEYS are
    re-aggregated from the new table state and swapped in:

        kept       = old_state  ANTI-JOIN  changed_keys
        recomputed = partial_agg(new_table  SEMI-JOIN  changed_keys)
        new_state  = kept ∪ recomputed

    Exactly equal to re-aggregating the whole table, but every stage is
    proportional to the CHANGE set: the semi/anti joins broadcast the
    changed-key list while it's small (the normal CDC case — AQE
    decides), and the only aggregation scans the touched keys' rows.
    ``diff`` is ``cdc.table_diff`` output (or any frame carrying the
    key columns of inserted/deleted/updated rows)."""
    changed = diff.select(*keys).distinct()
    kept = old_state.join(changed, keys, "left_anti")
    recomputed = partial_agg(new_table.join(changed, keys, "left_semi"),
                             keys, measure)
    return kept.unionByName(recomputed)
